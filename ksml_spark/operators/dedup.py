"""Deduplication operators for training-data pipelines (SURVEY.md §2.10).

Not in the reference (cddr/ksml has no dedup surface; its closest analog is
KTable latest-per-key, /root/reference/src/cddr/ksml/eval.clj:72). These are
the first-class extension operators a 100 TB corpus pipeline needs:

    ["dedup", rel, {"by": cols, "order": cols, "keep": "first"|"last"}]
        exact dedup; deterministic representative when "order" given.
    ["minhash", rel, {"col": "text", "id": "doc_id"}]
        adds MinHash band-bucket columns (band_0..band_{B-1}).
    ["lsh-candidates", rel, {"col": "text", "id": "doc_id"}]
        near-dup candidate pairs: docs sharing >=1 MinHash band bucket.
    ["jaccard-pairs", rel, {"col","id","block","threshold"}]
        exact token-set Jaccard >= threshold within blocking groups.
    ["simhash", rel, {"col": "text", "as": "simhash"}]
        64-bit SimHash column (portable md5 token hashes, bit voting).
    ["simhash-pairs", rel, {"col": "text", "id": "doc_id", "max_hamming": 3}]
        near-dup pairs by SimHash: 16-bit band bucketing (pigeonhole: any
        pair within hamming distance 3 shares at least one of 4 bands)
        then exact popcount(xor) verification.
    ["dup-clusters", pairs_rel, {"a": "doc_a", "b": "doc_b"}]
        connected components over a near-dup pair relation: (id, cluster)
        with cluster = min member id — the step that turns LSH/Jaccard
        PAIRS into dedup groups with a canonical representative.
    ["near-dedup", rel, {"col": "text", "id": "doc_id", "block": ...,
                         "threshold": 0.8}]
        end-to-end near-duplicate removal: jaccard-pairs -> dup-clusters
        -> keep each cluster's representative (min id). The one-call
        composition of the pipeline above.

Scale posture: batch MinHash signatures are one scan + shingle explode +
codegen hash-agg (no Python); streaming ones are a shuffle-free per-row
Arrow UDF with identical values. The LSH self-join shuffles on (band,
bucket) — the standard shingle→minhash→band→bucket-join plan whose shuffle
volume is O(rows·bands), independent of pair count. Exact Jaccard is only
ever run INSIDE blocks (blocking key join), never all-pairs.

All hash primitives are engine-portable (md5 over strings) so results are
bit-reproducible against the DuckDB oracle — including SimHash, whose
64-bit token hash is md5 sliced into two 32-bit halves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import ArityError, TypeDispatchError
from ..eval import Ctx, defop
from ..model import KStreamRel, Rel

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_K = 3
# each md5 yields four independent 32-bit (8-hex-char) hash values, so 16
# MinHash functions cost 4 md5 calls per shingle, not 16
PIECES_PER_MD5 = 4
N_MD5 = N_HASHES // PIECES_PER_MD5


def minhash_slice(j: int) -> tuple[int, int]:
    """Hash j -> (salt index, 1-based hex start) into md5(f'{salt}#'+s)."""
    return j // PIECES_PER_MD5, (j % PIECES_PER_MD5) * 8 + 1


from .util import opts_of as _opts  # noqa: E402  (shared option merging)
from .util import float_opt, int_opt, pos_int_opt  # noqa: E402  (curated parses)
from .util import STORAGE_REMOVED, refuse_removed_opt  # noqa: E402


@defop("dedup")
def op_dedup(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Exact deduplication. With "order": keep the first (or last) row per
    "by"-group under that ordering — deterministic, oracle-comparable
    (one hash shuffle + within-partition sort, same cost as any keyed agg).
    Without "order": dropDuplicates (arbitrary representative, cheapest)."""
    opts = _opts(rest)
    by = opts.get("by") or list(rel.key_cols)
    if not by:
        raise ArityError("dedup needs {'by': cols} or a keyed stream")
    if isinstance(by, str):
        by = [by]
    order = opts.get("order")
    if not order:
        if rel.df.isStreaming and opts.get("within_watermark"):
            # streaming: bound dedup state by the event-time watermark
            # (dropDuplicatesWithinWatermark; set with-watermark upstream)
            return rel.with_df(rel.df.dropDuplicatesWithinWatermark(list(by)))
        return rel.with_df(rel.df.dropDuplicates(list(by)))
    if isinstance(order, str):
        order = [order]
    if rel.df.isStreaming:
        raise TypeDispatchError(
            "dedup with {'order': ...} needs the full group history "
            "(analytic window) and is batch-only; on streams use "
            "{'within_watermark': true} for arbitrary-representative "
            "dedup, or ['table', ...] for latest-per-key"
        )
    from pyspark.sql import Window

    desc = opts.get("keep", "first") == "last"
    ocols = [F.col(c).desc() if desc else F.col(c).asc() for c in order]
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(*ocols)
    df = (
        rel.df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return rel.with_df(df)


# ---------------------------------------------------------------------------
# MinHash + LSH (portable md5 construction)

def tokens_col(col: Column) -> Column:
    """Single-space tokenization (matches DuckDB string_split)."""
    return F.split(col, " ")


def shingles_col(col: Column, k: int = SHINGLE_K) -> Column:
    """k-word shingles; short docs fall back to the whole text as one
    shingle. let1-bound (r18): the slice lambda re-evaluated the
    captured split per shingle position (quadratic per doc)."""
    from .util import let1

    return let1(
        tokens_col(col),
        lambda t: F.when(F.size(t) < k, F.array(col)).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            )
        ),
    )


def _pin_tokens(toks: DataFrame) -> DataFrame:
    """Persist the tokenized (id, blocks, token-array, n) relation for
    the pair operators (jaccard / containment), batch only.

    Two reasons, both measured (r06, sf0.1):

    1. The self-join reads ``toks`` twice — without a persist the
       per-token md5 tokenize runs once per branch.
    2. Catalyst infers ``size(__t) > 0 AND isnotnull(__t)`` below the
       postings explode and pushes it through the tokenize projection
       AND the spread exchange into the parquet scan as a DataFilter —
       so the ENTIRE md5 tokenize re-evaluates inside the single-split
       scan task (4.4s of a 6s query ran single-task). A persisted
       relation is a pushdown barrier: the filter stays above the
       cache, the scan reads only raw columns.

    DISK_ONLY (util.pin's level), for the same reason as
    lsh-candidates: at 100 TB the token arrays evict / thrash executor
    storage memory.

    near-dedup pins its INPUT by the same rule, for reason 1 at the
    pipeline level: the pair stage's sample, the pair checkpoint and the
    final anti join each read it.

    Registered in util._PINNED (bounded, oldest-evicted) so repeated
    invocations in a long-lived session can't accumulate cache blocks;
    ``ksml_spark.release_pinned()`` frees them all."""
    if toks.isStreaming:
        return toks
    from .util import pin

    return pin(toks)


def _sig_struct_udf(with_toks: bool, shingle_k: int = SHINGLE_K,
                    family: str = "md5"):
    """Arrow-batched per-row MinHash band signatures, numpy-vectorized
    per row — the streaming signature path of both families.

    family="md5" (streaming minhash and lsh-candidates): bit-identical
    to the batch agg path (parity pinned by test)
    — 4 salted md5 digests per shingle sliced into 16 32-bit pieces,
    min per piece. The digests are C calls; the 16-way min that used to
    be a ~770-iteration Python loop per doc is one numpy reshape+min.

    family="km" (streaming lsh-join): ONE unsalted md5 digest per
    shingle, 16 hash functions derived Kirsch-Mitzenmacher style as
    g_j = p0 + j*p1 from the digest's first two big-endian 32-bit
    pieces (Kirsch & Mitzenmacher, "Less Hashing, Same Performance" —
    two base hashes give an entire MinHash family). 4x fewer digest
    calls than md5. ``with_toks`` (km only — the streaming lsh-join
    verify) adds the distinct shingle-hash token set, taken free off
    the same digests; its ids EQUAL md5_long_col's values (first 60
    bits), so the verify Jaccard is family-independent. Band/bucket
    VALUES are a different space than the md5 family — one family must
    be threaded to both join sides. p0 + 15*p1 < 2^36, so int64 never
    overflows and the batch codegen form (conv(substr(md5)) + j*p1, min
    agg) matches bit-exactly.

    Why a UDF and not expressions: Spark's HOF transform/array_min
    exprs don't codegen — measured at sf0.1 (5000 docs, streaming,
    min-of-2): md5 exprs 900 docs/s, xxhash64 exprs 860 docs/s
    (swapping md5 for the cheap JVM hash changes nothing — per-element
    interpretation is the cost), this UDF ~2.1k before vectorization,
    higher after. Used on STREAMING inputs (shuffle-free, no stateful
    agg); the batch path keeps the explode + codegen hash-agg plan,
    which beats all per-row forms."""
    if with_toks and family != "km":
        raise ValueError("_sig_struct_udf token sets come from the km digests")
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ret = (
        "bands array<string>, toks array<bigint>"
        if with_toks
        else "bands array<string>"
    )
    salts = [f"{m}#".encode() for m in range(N_MD5)]
    md5 = hashlib.md5
    j_mult = np.arange(N_HASHES, dtype=np.int64)

    def _one(text):
        if text is None:
            return (None, None) if with_toks else (None,)
        t = text.split(" ")
        sh = (
            [text]
            if len(t) < shingle_k
            else [" ".join(t[i : i + shingle_k]) for i in range(len(t) - shingle_k + 1)]
        )
        enc = [s.encode("utf-8") for s in sh]
        if family == "km":
            # one digest per shingle; pieces [p0 p1 p2 p3] big-endian
            buf = b"".join(md5(b).digest() for b in enc)
            arr = (
                np.frombuffer(buf, dtype=">u4")
                .reshape(len(enc), PIECES_PER_MD5)
                .astype(np.int64)
            )
            mins = (arr[:, [0]] + j_mult * arr[:, [1]]).min(axis=0)
            if with_toks:
                # first 60 bits of the SAME digests == md5_long_col
                # (shift on uint64 FIRST: astype(int64) of a full 64-bit
                # value would wrap negative)
                toks = np.unique(
                    (np.frombuffer(buf, dtype=">u8")[::2] >> np.uint64(4))
                    .astype(np.int64)
                )
        else:
            # 4 salted digests per shingle -> 16 pieces in j order
            # (j = m*PIECES_PER_MD5 + p; hex slicing == byte slicing,
            # both big-endian)
            buf = b"".join(md5(s + b).digest() for b in enc for s in salts)
            mins = (
                np.frombuffer(buf, dtype=">u4")
                .reshape(len(enc), N_HASHES)
                .min(axis=0)
                .astype(np.int64)
            )
        bands = [
            md5(
                "".join(
                    str(mins[b * ROWS_PER_BAND + r]) for r in range(ROWS_PER_BAND)
                ).encode()
            ).hexdigest()
            for b in range(N_BANDS)
        ]
        return (bands, toks.tolist()) if with_toks else (bands,)

    @pandas_udf(ret)
    def _sig(texts):
        rows = [_one(t) for t in texts]
        cols = {"bands": [r[0] for r in rows]}
        if with_toks:
            cols["toks"] = [r[1] for r in rows]
        return pd.DataFrame(cols)

    return _sig


def _stream_bands(df: DataFrame, textc: str, family: str = "md5") -> DataFrame:
    """``df`` minus its NULL-text rows, with band_0..band_{B-1} appended
    by the per-row _sig_struct_udf (shuffle-free, streaming-legal)."""
    sig = _sig_struct_udf(with_toks=False, family=family)
    out = df.filter(F.col(textc).isNotNull()).withColumn("__sig", sig(F.col(textc)))
    return out.withColumns({
        f"band_{b}": F.element_at("__sig.bands", b + 1) for b in range(N_BANDS)
    }).drop("__sig")


def band_signatures(
    df: DataFrame, idc: str, textc: str, family: str = "md5",
    keep: tuple = (),
) -> DataFrame:
    """(id, band_0..band_{B-1}) MinHash band buckets of one hash family
    (``family``: "md5", the salted family the DuckDB oracle replicates,
    or "km" — see _sig_struct_udf).

    STREAMING inputs take a shuffle-free per-row path (no stateful agg;
    rows with NULL text are dropped, matching the batch path where they
    produce no shingle rows): the Arrow-vectorized _sig_struct_udf,
    bit-identical to the batch construction (measured ~4x faster than
    the same signatures as interpreted array_min/transform expressions).
    Batch inputs take the explode + codegen hash-agg path below, which
    beats both.

    Plan shape chosen for codegen: explode shingles -> 4 salted md5 columns
    sliced into 16 32-bit hex pieces (whole-stage codegen; Spark's
    higher-order transform/aggregate exprs are interpreted and ~10x slower
    here) -> hash-aggregate min() per id with map-side partial aggregation.
    Shuffle volume is rows x 16 short hex strings — independent of shingle
    count. mh_j = min over shingles of substr(md5('m#'+shingle), p*8+1, 8)
    is the engine-portable hash family shared with the DuckDB oracle.

    spread(): the shingle explosion + 16 md5s is the compute-heavy part
    and a small parquet source scans as ONE split — without spreading it
    runs single-task (measured 16s vs <1s on 32 cores at sf0.1; the
    lsh-candidates self-join masked this behind its persist, lsh-join
    paid it in full). At 100 TB the source has thousands of files and
    spread is a no-op."""
    from .util import spread

    if df.isStreaming:
        return _stream_bands(df, textc, family).select(
            idc, *keep, *[f"band_{b}" for b in range(N_BANDS)]
        )

    sh = spread(df).select(F.col(idc), F.explode(shingles_col(F.col(textc))).alias("__s"))
    if family == "km":
        # batch km (the static side of a stream-static lsh-join): ONE md5
        # per shingle with the 16 functions derived as p0 + j*p1 (no
        # overflow: < 2^36) — bit-identical to the streaming km UDF
        # (parity pinned by test)
        halves = sh.select(
            F.col(idc),
            *[
                F.conv(F.substring(F.md5(F.col("__s")), p * 8 + 1, 8), 16, 10)
                .cast("long")
                .alias(f"__q{p}")
                for p in range(2)
            ],
        )
        pieces = halves.select(
            F.col(idc),
            *[
                (F.col("__q0") + F.lit(j) * F.col("__q1")).alias(f"__p{j}")
                for j in range(N_HASHES)
            ],
        )
    else:
        hashed = sh.select(
            F.col(idc),
            *[
                F.md5(F.concat(F.lit(f"{m}#"), F.col("__s"))).alias(f"__m{m}")
                for m in range(N_MD5)
            ],
        )
        # hash values as BIGINTs: min(long) hash-aggregates in codegen
        # (min over strings would fall back to SortAggregate — string agg
        # buffers are not hash-mutable) and the shuffle rows shrink to 16
        # longs
        pieces = hashed.select(
            F.col(idc),
            *[
                F.conv(
                    F.substring(F.col(f"__m{minhash_slice(j)[0]}"), minhash_slice(j)[1], 8), 16, 10
                )
                .cast("long")
                .alias(f"__p{j}")
                for j in range(N_HASHES)
            ],
        )
    mins = pieces.groupBy(idc).agg(
        *[F.min(f"__p{j}").alias(f"__mh{j}") for j in range(N_HASHES)]
    )
    return mins.select(
        F.col(idc),
        *[
            F.md5(
                F.concat(
                    *[
                        F.col(f"__mh{b * ROWS_PER_BAND + r}").cast("string")
                        for r in range(ROWS_PER_BAND)
                    ]
                )
            ).alias(f"band_{b}")
            for b in range(N_BANDS)
        ],
    )


@defop("minhash")
def op_minhash(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Adds MinHash band-bucket columns (batch: codegen agg + join back
    on the id; streaming: _stream_bands, the per-row Arrow UDF streaming
    lsh-candidates also runs — shuffle-free, identical values, every
    input column kept); NULL-text rows are dropped on both paths,
    matching the batch inner join."""
    opts = _opts(rest)
    idc = opts.get("id", "doc_id")
    colc = opts.get("col", "text")
    if rel.df.isStreaming:
        return rel.with_df(_stream_bands(rel.df, colc))
    sigs = band_signatures(rel.df, idc, colc)
    return rel.with_df(rel.df.join(sigs, idc, "inner"))


@defop("lsh-candidates")
def op_lsh_candidates(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Near-duplicate candidate pairs: ids sharing at least one band bucket.

    Plan shape: scan → narrow signature exprs → explode to (band, bucket)
    rows → self-equi-join on (band, bucket) → distinct pairs. The shuffle
    key is the bucket, so cost scales with rows·bands, not candidate-pair
    count; skewed buckets are split by AQE."""
    opts = _opts(rest)
    refuse_removed_opt(opts, "storage", "lsh-candidates", STORAGE_REMOVED)
    idc = opts.get("id", "doc_id")
    sigs = band_signatures(rel.df, idc, opts.get("col", "text"))
    if not sigs.isStreaming:
        # the self-join reads the signature relation twice; materialize it
        # so the shingle/md5 work runs once. DISK_ONLY, not Spark's
        # MEMORY_AND_DISK: at 100 TB the signature relation evicts /
        # thrashes executor storage memory, and a sequential disk re-read
        # of the narrow (id + 4 hex) relation is cheap next to recomputing
        # the shingle explosion
        from .util import pin

        sigs = pin(sigs)
    long = sigs.select(
        F.col(idc),
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(N_BANDS)])).alias(
            "band", "bucket"
        ),
    )
    a, b = long.alias("a"), long.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{idc}") < F.col(f"b.{idc}")),
            "inner",
        )
        .select(F.col(f"a.{idc}").alias("doc_a"), F.col(f"b.{idc}").alias("doc_b"))
        .distinct()
    )
    return KStreamRel(pairs, key_cols=("doc_a", "doc_b"))


def _lsh_family(left: DataFrame, right: DataFrame) -> str:
    """lsh-join's MinHash family, fixed by its inputs. Streaming output
    never meets the batch DuckDB oracle, so a streaming side takes the
    km family (parity-pinned against its own batch codegen form; the
    single-digest signatures measured 8.6-9.9k docs/s vs 1.9-2.2k on
    md5). All-batch joins keep salted md5, the family the oracle
    replicates. One family serves BOTH sides (band/bucket join)."""
    return "km" if left.isStreaming or right.isStreaming else "md5"


@defop("lsh-join")
def op_lsh_join(ctx: Ctx, left: Rel, right: Rel, *rest) -> KStreamRel:
    """Cross-corpus near-duplicate candidates — the incremental-dedup
    shape (a new crawl against an existing reference corpus, a fresh
    dump against the training set):

        ["lsh-join", new_rel, reference_rel,
         {"col": "text", "id": "doc_id",
          "right_col": "text", "right_id": "doc_id",
          "as": ["doc_a", "doc_b"], "verify": 0.7}]
        -> (doc_a from left, doc_b from right): pairs sharing >= 1
           MinHash band bucket. With ``verify``, each candidate is
           checked with EXACT shingle-set Jaccard and the output
           becomes (doc_a, doc_b, jaccard) filtered >= the threshold —
           the complete incremental-dedup probe (banded recall, exact
           precision). Compose with the anti-join to drop left-side
           docs that near-duplicate the reference.

    Same banded construction as lsh-candidates (band_signatures — the
    hash family is shared with the DuckDB oracle), but a two-relation
    equi-join on (band, bucket) instead of a self-join: no self-pairs,
    no id-ordering constraint, and each side's signature relation is
    built once (no persist needed — unlike the self-join, nothing is
    read twice). The shuffle key is the bucket, so cost scales with
    rows·bands per side; a small reference set broadcasts with
    {"broadcast": true}. The hash family is fixed by the inputs
    (_lsh_family): when either side is streaming, both sides use the
    single-digest Kirsch-Mitzenmacher MinHash family (one md5 per
    shingle instead of four salted ones, token ids shared — the
    measured ~4x-faster signature path); all-batch inputs use the
    salted-md5 family the DuckDB oracle replicates.
    Reference: no analog (§2.10 extension)."""
    if not isinstance(right, Rel):
        raise TypeDispatchError(
            f"lsh-join right operand must be a stream/table, "
            f"got {type(right).__name__}"
        )
    opts = _opts(rest)
    refuse_removed_opt(
        opts, "impl", "lsh-join",
        "the hash family follows the inputs (km when either side is "
        "streaming, salted md5 otherwise)",
    )
    idc = opts.get("id", "doc_id")
    ridc = opts.get("right_id", idc)
    colc = opts.get("col", "text")
    rcolc = opts.get("right_col", colc)
    out_as = opts.get("as", ["doc_a", "doc_b"])
    if (
        not isinstance(out_as, (list, tuple))
        or len(out_as) != 2
        or not all(isinstance(c, str) and c for c in out_as)
    ):
        raise ArityError(
            'lsh-join {"as": ...} must be a 2-element list of output column '
            f"names like ['doc_a', 'doc_b'], got {out_as!r}"
        )
    if out_as[0] == out_as[1]:
        raise ArityError(
            f'lsh-join {{"as": ...}} names must differ, both are {out_as[0]!r}'
        )
    out_a, out_b = out_as

    # bounded cross-batch pair dedup: by default the streaming pair
    # dedup state (distinct / dropDuplicates below) grows with every
    # pair ever emitted — correct, but unbounded on a continuous
    # stream, and LOUD about it since r12 (ResourceWarning at
    # construction; {"unbounded_ok": True} acknowledges).
    # {"dedup_within": "1 hour"} applies an event-time
    # watermark on the left and uses dropDuplicatesWithinWatermark, so
    # state is bounded by the delay window (re-emission of a pair after
    # the window is the documented trade).
    dedup_within = opts.get("dedup_within")
    ltc = None
    ldf = left.df
    if (
        left.df.isStreaming
        and dedup_within is None
        and not opts.get("unbounded_ok")
    ):
        # loud-at-construction (VERDICT r11): the cross-batch pair-dedup
        # store below is the engine's ONE unbounded default state — the
        # r11 probe measured it linear in corpus history (109k rows and
        # growing), while every sibling cap (cooccurrence window, vocab
        # collect, semdedup guard) announces itself at construction.
        import warnings

        warnings.warn(
            "lsh-join on a STREAMING left without {'dedup_within': ...} "
            "keeps every emitted pair in cross-batch dedup state — state "
            "grows with the full corpus history (measured linear; "
            "docs/SCALE.md). Bound it with {'dedup_within': '<delay>'} "
            "(needs a left time column; bounds state by the watermark "
            "window, measured 20-40x smaller), or acknowledge with "
            "{'unbounded_ok': True}.",
            ResourceWarning,
            stacklevel=3,
        )
    if dedup_within is not None:
        if not left.df.isStreaming:
            raise ArityError(
                'lsh-join {"dedup_within": ...} bounds STREAMING dedup '
                "state; batch inputs dedup exactly without it"
            )
        ltc = left.time_col
        if not ltc:
            raise TypeDispatchError(
                'lsh-join {"dedup_within": ...} needs a time column on '
                'the left stream (["stream", src, {"time": col}])'
            )
        ldf = left.df.withWatermark(ltc, str(dedup_within))
    lkeep = (ltc,) if ltc else ()

    # {"method": "winnow"} swaps MinHash band buckets for robust-
    # winnowing fingerprints as the join key: substring-granularity
    # recall (a shared window+k-1 token run guarantees a shared
    # bucket), same stream-static join shape. The verify pass is
    # method-independent (exact shingle-set Jaccard on candidates).
    method = opts.get("method", "minhash")
    if method not in ("minhash", "winnow"):
        raise ArityError(
            f"lsh-join method must be 'minhash' or 'winnow', got {method!r}"
        )
    family = _lsh_family(left.df, right.df)
    wk = int_opt(opts, "k", "lsh-join", SHINGLE_K)
    ww = int_opt(opts, "window", "lsh-join", 4)
    if wk < 1 or ww < 1:
        raise ArityError("lsh-join winnow method needs k >= 1 and window >= 1")

    def _fp_long(df, id_col, text_col, out, keep=()):
        from .util import spread

        hashes, windows = _winnow_exprs(text_col, wk, ww)
        nn = df.filter(F.col(text_col).isNotNull())
        if not df.isStreaming:
            nn = spread(nn)
        return (
            nn.select(F.col(id_col).alias(out), *[F.col(c) for c in keep],
                      hashes.alias("__h"))
            .select(out, *[F.col(c) for c in keep],
                    F.explode_outer(F.array_distinct(windows)).alias("__fp"))
            .select(out, *[F.col(c) for c in keep], F.lit(0).alias("band"),
                    F.col("__fp").cast("string").alias("bucket"))
        )

    def _long(df, id_col, text_col, out, keep=()):
        if method == "winnow":
            return _fp_long(df, id_col, text_col, out, keep=keep)
        sigs = band_signatures(df, id_col, text_col, family=family, keep=keep)
        return sigs.select(
            F.col(id_col).alias(out),
            *[F.col(c) for c in keep],
            F.posexplode(
                F.array(*[F.col(f"band_{b}") for b in range(N_BANDS)])
            ).alias("band", "bucket"),
        )

    la = _long(ldf, idc, colc, out_a, keep=lkeep)
    rb = _long(right.df, ridc, rcolc, out_b)
    if left.df.isStreaming and not right.df.isStreaming:
        # stream-static: every micro-batch re-executes the static side's
        # plan; without a persist the reference corpus re-tokenizes and
        # re-hashes per batch — at a real reference-corpus size that is
        # the whole job, per trigger. Pin it once (bounded registry).
        from pyspark import StorageLevel

        from .util import pin

        rb = pin(rb, StorageLevel.MEMORY_AND_DISK)
    if opts.get("broadcast"):
        rb = F.broadcast(rb)
    cand_cols = [out_a, out_b] + ([ltc] if ltc else [])
    pairs = la.join(rb, ["band", "bucket"], "inner").select(*cand_cols)
    pairs = (
        pairs.dropDuplicatesWithinWatermark([out_a, out_b]).drop(ltc)
        if ltc
        else pairs.distinct()
    )

    verify = opts.get("verify")
    if verify is not None:
        # exact-precision pass: attach each side's distinct shingle hash
        # set and compute exact Jaccard on the CANDIDATES only — work ∝
        # candidate pairs, never all-pairs. On a streaming left the
        # token set rides inline with the per-row signature explode
        # (joining the candidate stream back to the left stream would be
        # an illegal stream-stream self join); the batch left joins back
        # the deduped candidate set instead, so tokenize runs once per
        # doc, not per candidate row.
        from .util import md5_long_col, spread

        thr = float(verify)

        def _tok_ids(text_col):
            # family-independent: the km streaming UDF emits the SAME
            # 60-bit md5 token ids, so exact Jaccard agrees across
            # families and across the two join sides
            return F.array_distinct(
                F.transform(shingles_col(F.col(text_col)), lambda s: md5_long_col(s))
            )

        if left.df.isStreaming:
            lk = [F.col(c) for c in lkeep]
            if method == "winnow":
                hashes, windows = _winnow_exprs(colc, wk, ww)
                base = (
                    ldf.filter(F.col(colc).isNotNull())
                    .select(F.col(idc).alias(out_a), *lk,
                            _tok_ids(colc).alias("__ta"), hashes.alias("__h"))
                    .select(out_a, *lk, "__ta",
                            F.explode_outer(F.array_distinct(windows))
                            .alias("__fp"))
                    .select(out_a, *lk, "__ta", F.lit(0).alias("band"),
                            F.col("__fp").cast("string").alias("bucket"))
                )
            else:
                # vectorized: ONE Arrow UDF eval per row yields the km
                # bands AND the token set. Two select steps so the
                # struct is projected once; CollapseProject won't inline
                # (and so duplicate) a non-cheap Python UDF expression.
                sig = _sig_struct_udf(with_toks=True, family="km")
                base = (
                    ldf.filter(F.col(colc).isNotNull())
                    .select(F.col(idc).alias(out_a), *lk, sig(F.col(colc)).alias("__sig"))
                    .select(
                        out_a,
                        *lk,
                        F.col("__sig.toks").alias("__ta"),
                        F.posexplode("__sig.bands").alias("band", "bucket"),
                    )
                )
            cand = (
                base.join(rb, ["band", "bucket"], "inner")
                .select(out_a, "__ta", out_b, *[F.col(c) for c in lkeep])
            )
        else:
            # batch verify, restructured r17 (guide §8: decide with
            # small rows, attach heavy bytes once): the deduped
            # candidate set is PINNED once — bounded by candidate
            # count, never corpus-sized — and drives a SEMI-JOIN
            # reduction of BOTH token-set builds, so the per-shingle
            # md5 tokenization runs only on docs that actually appear
            # in a candidate pair instead of the whole corpus (the
            # pre-r17 plan tokenized every doc on both sides and then
            # broadcast the corpus-sized token relation into the tiny
            # candidate join — backwards at 100 TB). spread: the
            # token-set build is the heavy stage and a small parquet
            # source scans as one split (stage-audit class).
            from pyspark import StorageLevel

            from .util import pin

            pairs = pin(pairs, StorageLevel.MEMORY_AND_DISK)
            ids_a = pairs.select(
                F.col(out_a).alias("__lsh_semi_id")).distinct()
            lt = (
                spread(left.df)
                .join(ids_a, F.col(idc) == F.col("__lsh_semi_id"), "semi")
                .select(F.col(idc).alias(out_a), _tok_ids(colc).alias("__ta"))
            )
            cand = pairs.join(lt, out_a)
        if left.df.isStreaming:
            rt_src = spread(right.df)
        else:
            ids_b = pairs.select(
                F.col(out_b).alias("__lsh_semi_id")).distinct()
            rt_src = spread(right.df).join(
                ids_b, F.col(ridc) == F.col("__lsh_semi_id"), "semi")
        rt = rt_src.select(
            F.col(ridc).alias(out_b), _tok_ids(rcolc).alias("__tb")
        )
        if left.df.isStreaming and not right.df.isStreaming:
            # same per-micro-batch recompute hazard as rb above
            from pyspark import StorageLevel

            from .util import pin

            rt = pin(rt, StorageLevel.MEMORY_AND_DISK)
        if opts.get("broadcast"):
            rt = F.broadcast(rt)
        common = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
        jac = common / (F.size("__ta") + F.size("__tb") - common)
        scored = (
            cand.join(rt, out_b)
            .select(out_a, out_b, F.round(jac, 6).alias("jaccard"),
                    *[F.col(c) for c in lkeep])
            .filter(F.col("jaccard") >= thr)
        )
        pairs = (
            scored.dropDuplicatesWithinWatermark([out_a, out_b]).drop(ltc)
            if ltc
            else scored.dropDuplicates([out_a, out_b])
        )
    return KStreamRel(pairs, key_cols=(out_a, out_b))


# jaccard-pairs' plan choice (see its docstring): the prefix plan runs when
# the estimated token index reaches _PREFIX_MIN_POSTINGS postings, or when
# the hottest (block, token) join key's estimated pair output exceeds
# _HOT_RATIO x postings and _HOT_MIN_PAIRS; the plain plan otherwise.
_PREFIX_MIN_POSTINGS = 50_000_000
_HOT_RATIO = 4.0
_HOT_MIN_PAIRS = 2_000_000
# rows of the one bounded fetch the estimate reads
_ESTIMATE_SAMPLE = 2048
_PLAN_REMOVED = (
    f"the engine picks the prefix plan when the estimated postings reach "
    f"{_PREFIX_MIN_POSTINGS:,}, or when the hottest (block, token) key's "
    f"pair output exceeds {_HOT_RATIO:g}x postings and {_HOT_MIN_PAIRS:,}, "
    f"and the plain plan otherwise"
)


def _require_columns(df: DataFrame, op: str, **named) -> None:
    """ArityError unless each named option names a column of ``df``,
    matched case-insensitively as Spark resolves names by default."""
    have = {c.lower() for c in df.columns}
    for key, name in named.items():
        if not isinstance(name, str) or name.lower() not in have:
            raise ArityError(
                f"{op}: {key} {name!r} is not a column of the input "
                f"(have {df.columns})"
            )


def _token_sets(rel: Rel, opts: dict, op: str) -> tuple[DataFrame, DataFrame, str, list]:
    """Parse a pair op's ``col`` / ``id`` / ``block`` / ``shingle`` and
    build its pinned token sets.

    Returns ``(toks, sample, idc, bcols)``: ``toks`` is (id, block
    columns ``bcols``, ``__t`` distinct token ids, ``__n`` set size),
    ``sample`` the unpinned (``__bytes``, ``__t``, ``__bh`` block hash)
    projection jaccard-pairs' plan estimate reads.

    Tokens are hashed to 60-bit longs (md5_long_col) up front: join/agg
    work on longs is far cheaper than on strings, the hash runs once per
    doc, and 60 bits keeps birthday collisions negligible at corpus-scale
    vocabularies. ``{"shingle": k}`` switches the set elements from single
    tokens to k-word shingles (n-gram Jaccard, the resemblance measure
    minhash approximates)."""
    from .util import md5_long_col, spread

    idc = opts.get("id", "doc_id")
    col = opts.get("col", "text")
    _require_columns(rel.df, op, id=idc, col=col)
    block = opts.get("block", [])
    blocks = [block] if isinstance(block, str) else block
    if (not isinstance(blocks, (list, tuple))
            or not all(isinstance(b, str) for b in blocks)):
        raise ArityError(
            f"{op}: block must be a SQL expression or a list of them, "
            f"got {block!r}"
        )
    # curated >= 1 parse: 0 or a negative reached shingles_col's F.slice
    shingle = pos_int_opt(opts, "shingle", op)
    units = (shingles_col(F.col(col), shingle) if shingle
             else tokens_col(F.col(col)))
    tok_ids = F.array_distinct(
        F.transform(units, lambda x: md5_long_col(x))
    ).alias("__t")
    block_exprs = [F.expr(b) for b in blocks]
    bcols = [f"__b{i}" for i in range(len(blocks))]
    # spread: the per-token md5 tokenize is the compute-heavy stage and a
    # small parquet source scans as one split (see band_signatures)
    toks = spread(rel.df).select(
        F.col(idc), *[e.alias(c) for e, c in zip(block_exprs, bcols)], tok_ids,
    ).withColumn("__n", F.size("__t"))
    sample = rel.df.select(
        F.octet_length(col).alias("__bytes"), tok_ids,
        (F.xxhash64(*block_exprs) if blocks else F.lit(0)).alias("__bh"),
    )
    return _pin_tokens(toks), sample, idc, bcols


def _token_join(ex: DataFrame, idc: str, bcols: list) -> DataFrame:
    """Self-join of an exploded (id, blocks, ``__tok``, ...) token index
    on (blocks, token) with a.id < b.id: one row per shared token per
    co-blocked pair, the sides aliased ``a`` and ``b``.

    The explicit repartition on the join keys: the exploded index is small
    relative to the pair rows the join EMITS, so AQE (sized on map output)
    would coalesce to ~1 partition and run the quadratic pair generation
    single-threaded; a user-specified partition count is respected by AQE,
    and both self-join sides reuse the one exchange."""
    from .util import shuffle_partitions

    ex = ex.repartition(shuffle_partitions(ex), *bcols, "__tok")
    a, b = ex.alias("a"), ex.alias("b")
    cond = (F.col("a.__tok") == F.col("b.__tok")) & (F.col(f"a.{idc}") < F.col(f"b.{idc}"))
    for c in bcols:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    return a.join(b, cond, "inner")


def _shared_counts(toks: DataFrame, idc: str, bcols: list) -> DataFrame:
    """The plain inverted-index plan of the pair ops: (doc_a, doc_b,
    __na, __nb, __c) for every co-blocked pair sharing a token, with
    both set sizes and __c = |A ∩ B|.

    Work is proportional to the number of SHARED tokens (pairs with no
    overlap are never materialized), and every step is a codegen'd hash
    join / hash aggregation; the per-pair ``array_intersect`` is an
    interpreted CodegenFallback expression, ~20us/pair. The sizes ride
    along as grouping keys, so no extra join is needed for |A|, |B|."""
    ex = toks.select(F.col(idc), *bcols, "__n", F.explode("__t").alias("__tok"))
    return (
        _token_join(ex, idc, bcols)
        .select(
            F.col(f"a.{idc}").alias("doc_a"),
            F.col(f"b.{idc}").alias("doc_b"),
            F.col("a.__n").alias("__na"),
            F.col("b.__n").alias("__nb"),
        )
        .groupBy("doc_a", "doc_b", "__na", "__nb")
        .agg(F.count(F.lit(1)).alias("__c"))
    )


@defop("jaccard-pairs")
def op_jaccard_pairs(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Exact token-set Jaccard similarity pairs within blocking groups:

        ["jaccard-pairs", rel, {"col": "text", "id": "doc_id",
                                "block": "lang", "threshold": 0.5,
                                "shingle": None}]  # k => n-gram Jaccard

    ``block`` is a SQL expression or a list of them. Two exact plans,
    bit-identical results (same oracle); the engine picks one per call.

    Plain inverted index (threshold > 0): explode distinct token hashes,
    self-equi-join on (block, token), count matches per candidate pair.
    Work is proportional to the number of SHARED tokens, and every step is
    a codegen'd hash join / hash aggregation. threshold <= 0 falls back to
    the blocked cross join (zero-overlap pairs must then be emitted).

    AllPairs prefix filtering (Bayardo et al., "Scaling Up All Pairs
    Similarity Search"): order each doc's tokens by global document
    frequency (rarest first; token id tiebreak) and index only the first
    n - ceil(t*n) + 1. Any pair with Jaccard >= t shares its
    canonically-FIRST common token inside BOTH prefixes, so the prefix
    self-join is a guaranteed candidate superset; exact Jaccard is then
    verified on candidates only. The index shrinks by ~t/(1+t) and the
    hottest tokens fall out of it, shrinking the skewed join keys. On
    uniform corpora it is slower (the document-frequency pass, per-doc
    ranking and verify join only amortize on a large or skewed index).

    The choice reads ONE bounded Arrow fetch of the input
    (``_ESTIMATE_SAMPLE`` rows, no full pass) plus Catalyst's row
    estimate, and no option: prefix when the estimated postings reach
    50M, or when the hottest (block, token) join key's estimated pair
    output exceeds 4x postings and 2M pairs (the floor keeps tiny corpora
    on plain). Skew rule measured (r06): one token in 17% of a 20k-doc
    corpus makes plain 2.3x slower than prefix, 33% makes it 7x. The
    retired options ``prefix``, ``auto_threshold``, ``hot_ratio`` and
    ``hot_min_pairs`` are refused."""
    if rel.df.isStreaming:
        raise TypeDispatchError(
            "jaccard-pairs self-joins corpus-global postings and is "
            "batch-only; use lsh-join for incremental near-dup on streams"
        )
    opts = _opts(rest)
    refuse_removed_opt(opts, "storage", "jaccard-pairs", STORAGE_REMOVED)
    for key in ("prefix", "auto_threshold", "hot_ratio", "hot_min_pairs"):
        refuse_removed_opt(opts, key, "jaccard-pairs", _PLAN_REMOVED)
    thr = float_opt(opts, "threshold", "jaccard-pairs", 0.5)
    toks, sample, idc, bcols = _token_sets(rel, opts, "jaccard-pairs")

    if thr <= 0:  # exact all-pairs within block, incl. zero-overlap pairs
        a, b = toks.alias("a"), toks.alias("b")
        cond = F.col(f"a.{idc}") < F.col(f"b.{idc}")
        for c in bcols:
            cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
        common = F.size(F.array_intersect(F.col("a.__t"), F.col("b.__t")))
        jac = common / (F.col("a.__n") + F.col("b.__n") - common)
        pairs = (
            a.join(b, cond, "inner")
            .select(
                F.col(f"a.{idc}").alias("doc_a"),
                F.col(f"b.{idc}").alias("doc_b"),
                F.round(jac, 6).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= thr)
        )
        return KStreamRel(pairs, key_cols=("doc_a", "doc_b"))

    postings, hot_pairs = _index_estimate(rel.df, sample)
    if postings >= _PREFIX_MIN_POSTINGS or hot_pairs >= max(
            _HOT_RATIO * postings, _HOT_MIN_PAIRS):
        return _jaccard_prefix(toks, idc, bcols, thr)
    counted = _shared_counts(toks, idc, bcols)
    # |A∪B| = |A| + |B| − |A∩B|
    jac = F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c"))
    pairs = (
        counted.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= thr)
    )
    return KStreamRel(pairs, key_cols=("doc_a", "doc_b"))


@defop("containment-pairs")
def op_containment_pairs(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Token-set CONTAINMENT pairs — the near-dup relation Jaccard
    misses: a 50-word snippet pasted inside a 5,000-word page has
    Jaccard ~0.01 but containment ~1.0 (Broder's resemblance vs
    containment distinction; the "quote/boilerplate inclusion" case a
    training-corpus dedup actually needs).

        ["containment-pairs", rel, {"col": "text", "id": "doc_id",
                                    "block": "lang", "threshold": 0.9}]
        -> (doc_a, doc_b, containment_a, containment_b) where
           containment_a = |A∩B| / |A| (fraction of A inside B),
           containment_b = |A∩B| / |B|, kept when EITHER side's
           containment >= threshold (max-containment = the overlap
           coefficient |A∩B| / min(|A|,|B|)).

    The plain inverted-index plan of jaccard-pairs (work ∝ shared tokens,
    codegen hash join + hash agg, never all-pairs). threshold
    must be > 0 — a zero threshold is every co-blocked pair; use
    jaccard-pairs' documented threshold<=0 cross-join fallback for
    that. AllPairs prefix filtering does NOT port: its bound assumes
    the symmetric Jaccard overlap constraint, while containment admits
    pairs with arbitrarily small Jaccard (the snippet case above), so
    a prefix index would drop true pairs; skew in the token index is
    handled by AQE skew-split.

    Reference: no analog (§2.10 extension surface)."""
    if rel.df.isStreaming:
        raise TypeDispatchError(
            "containment-pairs self-joins corpus-global postings and is "
            "batch-only; use lsh-join for incremental near-dup on streams"
        )
    opts = _opts(rest)
    refuse_removed_opt(opts, "storage", "containment-pairs", STORAGE_REMOVED)
    thr = float_opt(opts, "threshold", "containment-pairs", 0.9)
    if thr <= 0:
        raise TypeDispatchError(
            "containment-pairs needs threshold > 0 (the inverted index "
            "only materializes pairs sharing a token); for every "
            "co-blocked pair use jaccard-pairs with threshold <= 0"
        )
    toks, _, idc, bcols = _token_sets(rel, opts, "containment-pairs")
    counted = _shared_counts(toks, idc, bcols)
    c_a = F.col("__c") / F.col("__na")
    c_b = F.col("__c") / F.col("__nb")
    pairs = (
        counted.select(
            "doc_a", "doc_b",
            F.round(c_a, 6).alias("containment_a"),
            F.round(c_b, 6).alias("containment_b"),
        )
        .filter(
            (F.col("containment_a") >= thr) | (F.col("containment_b") >= thr)
        )
    )
    return KStreamRel(pairs, key_cols=("doc_a", "doc_b"))


def _index_estimate(df: DataFrame, sample: DataFrame) -> tuple[float, float]:
    """(estimated postings, estimated hot-join-key pair rows) of a token
    index WITHOUT a full pass over the corpus: this runs at plan
    construction, where a count() over an arbitrary upstream pipeline
    would be minutes of surprise cluster work per ksml() call.

    One Spark job: a LIMIT-``_ESTIMATE_SAMPLE`` Arrow fetch of
    ``sample`` (_token_sets' (__bytes, __t, __bh) projection of ``df``).
    From it the driver takes the row count, the mean bytes and tokens per
    doc and the hottest (block, token) key's document count, combined
    with Catalyst's plan statistics of ``df`` (rowCount when available,
    else sizeInBytes / mean row bytes). File-source sizeInBytes is compressed
    bytes, so the row estimate can undershoot by the compression ratio
    (~3x): order-of-magnitude accuracy, which is all the rule needs.

    The hot estimate keys on (block..., token) because that IS the
    self-join key: a globally hot token split across many blocks is not
    a hot join key (the bundled documents corpus: 31-token vocabulary,
    hottest token in ~78% of docs, yet blocked by (lang, length-bucket)
    no key is hot and the plain plan measures faster). f_max from a
    2048-doc sample resolves hot fractions down to ~0.1%; rarer-but-
    still-hot keys at extreme corpus sizes are the postings rule's job.
    Sample collisions (unrelated tokens hitting 2-3 of 2048 docs) give
    f_max ~1.5e-3, whose pair estimate stays below the _HOT_MIN_PAIRS
    floor until the corpus is large enough that the estimate is real."""
    import pyarrow as pa
    import pyarrow.compute as pc

    got = sample.limit(_ESTIMATE_SAMPLE).toArrow()
    n = got.num_rows
    if not n:
        return 0.0, 0.0
    t = got.column("__t")
    # one row per (doc, token): token ids are distinct within a doc, so a
    # (block hash, token) count is that key's document count
    flat = pa.table({
        "bh": pc.take(got.column("__bh"), pc.list_parent_indices(t)),
        "tok": pc.list_flatten(t),
    })
    mean_n = flat.num_rows / n
    if n < _ESTIMATE_SAMPLE:  # the whole input fit in the sample: exact enough
        rows_est = float(n)
    else:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            rows_est = float(str(rc.get()))
        else:
            size = float(str(stats.sizeInBytes()))
            if size >= float(1 << 60):
                # Catalyst reports defaultSizeInBytes (Long.MaxValue-ish)
                # for leaves it can't size — LogicalRDD (createDataFrame,
                # localCheckpoint outputs). Dividing that is a ~1e16-row
                # hallucination that would force the prefix plan on tiny
                # data; treat stats as unavailable and fall back to the
                # sample count (=> plain plan — the safe default, since
                # unsized inputs are typically small/local).
                rows_est = float(n)
            else:
                mean_b = pc.mean(got.column("__bytes")).as_py() or 1.0
                rows_est = size / max(mean_b, 1.0)
        rows_est = max(rows_est, float(n))
    per_key = flat.group_by(["bh", "tok"]).aggregate([("tok", "count")])
    f_max = (pc.max(per_key.column("tok_count")).as_py() or 0) / n
    hot_docs = f_max * rows_est
    return rows_est * mean_n, hot_docs * hot_docs / 2.0


def _jaccard_prefix(toks: DataFrame, idc: str, bcols: list, thr: float) -> KStreamRel:
    """AllPairs prefix-filtered exact Jaccard (see op_jaccard_pairs
    docstring for the theory). toks: (id, __b*, __t token array, __n)."""
    from pyspark.sql import Window

    ex = toks.select(F.col(idc), *bcols, F.col("__n"), F.explode("__t").alias("__tok"))
    # canonical order = ascending global document frequency (token id
    # tiebreak): rarest tokens first, so the index drops each doc's most
    # frequent tokens — exactly the skewed join keys
    freq = ex.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(F.col(idc)).orderBy(F.col("__df").asc(), F.col("__tok").asc())
    ranked = ex.join(freq, "__tok").withColumn("__pos", F.row_number().over(w))
    # prefix length n - ceil(t*n) + 1; the epsilon keeps a float t*n that
    # lands ON an integer from rounding the prefix shorter (a longer
    # prefix is always a safe superset, a shorter one is not)
    plen = (
        F.col("__n")
        - F.greatest(F.ceil(F.lit(thr) * F.col("__n") - F.lit(1e-9)), F.lit(1))
        + 1
    )
    pref = ranked.filter(F.col("__pos") <= plen).select(F.col(idc), *bcols, "__tok")
    cand = (
        _token_join(pref, idc, bcols)
        .select(F.col(f"a.{idc}").alias("doc_a"), F.col(f"b.{idc}").alias("doc_b"))
        .distinct()
    )
    # exact verification on candidates only: array_intersect is the
    # interpreted slow path, but it now runs per CANDIDATE, not per
    # shared-token occurrence — the candidate set is tiny by construction
    ta = toks.select(
        F.col(idc).alias("doc_a"), F.col("__t").alias("__ta"), F.col("__n").alias("__na")
    )
    tb = toks.select(
        F.col(idc).alias("doc_b"), F.col("__t").alias("__tb"), F.col("__n").alias("__nb")
    )
    common = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
    jac = common / (F.col("__na") + F.col("__nb") - common)
    pairs = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= thr)
    )
    return KStreamRel(pairs, key_cols=("doc_a", "doc_b"))


# Pair relations of at most this many rows close their components on the
# driver (dup-clusters): one bounded Arrow fetch and a union-find instead
# of the distributed contraction loop, which stays for pair sets beyond
# driver memory. The same bound as ann-topk's max_query_rows.
CC_DRIVER_MAX_PAIRS = 100_000


def _driver_components(src: list, dst: list) -> tuple[list, list]:
    """(nodes, clusters) of a pair list by union-find with min-id roots:
    the contraction loop's output, row for row, NULL ids included.

    The loop groups every NULL endpoint into one NULL node labelled with
    its smallest non-NULL neighbour m (NULL when it has none) and drops
    NULL edges from the cross-edge graph, so no NULL links two
    components. Label m is remapped only while some non-NULL node also
    starts with label m — min(self, neighbours) — since a label no node
    holds never enters the cross-edge graph: the NULL node ends in m's
    cluster in that case, and as m otherwise. Self-loops add nothing but
    their node."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    first: dict = {}  # node -> min(self, non-NULL neighbours): the loop's first label
    null_first = None
    has_null = False
    for a, b in zip(src, dst):
        for u, v in ((a, b), (b, a)):
            if u is None:
                has_null = True
                if v is not None and (null_first is None or v < null_first):
                    null_first = v
            else:
                parent.setdefault(u, u)
                cur = first.get(u, u)
                first[u] = v if v is not None and v < cur else cur
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:  # the smaller root wins, so a root is its set's min
                parent[max(ra, rb)] = min(ra, rb)
    nodes = list(first)
    clusters = [find(x) for x in nodes]
    if has_null:
        nodes.append(None)
        clusters.append(
            find(null_first) if null_first in set(first.values()) else null_first
        )
    return nodes, clusters


def _initial_labels(edges: DataFrame) -> DataFrame:
    """(__node, __label): min(self, direct neighbours) per node — src is
    the group key, so one hash aggregation over the edge list, no join."""
    return (
        edges.groupBy("__src")
        .agg(F.least(F.first("__src"), F.min("__dst")).alias("__label"))
        .select(F.col("__src").alias("__node"), "__label")
    )


def _contract_components(pairs: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """The distributed connected-components loop of dup-clusters (see its
    docstring): (__node, __label) with __label the component's min id.
    ``pairs`` is the checkpointed pair relation, ``edges`` its symmetric
    closure (lazy); both are released here once consumed."""
    # lazy: the labels aggregation below is a full scan, so its eager
    # checkpoint job reads the edges for the first time. Under AQE the
    # lazy checkpoint still runs the distinct's shuffle stage when it is
    # called; only the final stage is left to the consumer's job
    edges = edges.localCheckpoint(eager=False)
    # eager: its node->label map feeds BOTH remap branches concurrently
    labels = _initial_labels(edges).localCheckpoint()

    def remap(e, mapping):
        """Remap edge endpoints through (``__from`` -> ``__to``), keep
        only cross-cluster edges. Absent keys map to themselves."""
        sm = mapping.select(F.col("__from").alias("__src"), F.col("__to").alias("__ms"))
        dm = mapping.select(F.col("__from").alias("__dst"), F.col("__to").alias("__md"))
        return (
            e.join(sm, "__src", "left")
            .join(dm, "__dst", "left")
            .select(
                F.coalesce(F.col("__ms"), F.col("__src")).alias("__src"),
                F.coalesce(F.col("__md"), F.col("__dst")).alias("__dst"),
            )
            .filter(F.col("__src") != F.col("__dst"))
            .distinct()
        )

    # first contraction: node -> initial label, over the full edge list —
    # the LAST time the full list is touched; near-complete dup
    # components collapse here and every later round runs on the
    # (usually tiny) cross-cluster remainder
    node_map = labels.select(
        F.col("__node").alias("__from"), F.col("__label").alias("__to")
    )
    # lazy + fused count: the convergence probe below materializes the
    # contracted edge set in the same job, and its result is carried to
    # the next round's convergence test instead of a fresh round-start
    # count job
    cedges = remap(edges, node_map).localCheckpoint(eager=False)
    n_cross = cedges.count()
    # superseded checkpoints are explicitly unpersisted as the loop
    # advances — otherwise every round's edge/label snapshot stays
    # pinned in block-manager storage until Python GC; always AFTER the
    # lazy consumer's materializing action (unpersisting an input of an
    # unmaterialized lazy checkpoint would force a recompute through
    # truncated lineage)
    pairs.unpersist()
    edges.unpersist()

    converged = False
    for _ in range(max_iter):
        if n_cross == 0:  # no cross-cluster edges: converged
            converged = True
            break
        # label-space step: l -> min(l, min neighbor), then POINTER
        # DOUBLING to the map's fixpoint. The min-neighbor map is a
        # functional forest with strictly-decreasing pointers (roots =
        # local-min labels); each composition m := m . m halves the
        # remaining tree depth, so the inner loop runs
        # ceil(log2(diameter)) times, and the outer rounds only pay for
        # contracting local minima against each other. A SINGLE jump per
        # round (the r06 shape) reduced a path graph's diameter by a
        # constant per round — linear rounds in diameter, found by the
        # r07 CC stress (a 2000-node chain blew max_iter=40).
        m = (
            cedges.groupBy("__src")
            .agg(F.least(F.first("__src"), F.min("__dst")).alias("__to"))
            .select(F.col("__src").alias("__from"), "__to")
            .localCheckpoint()
        )
        for _ in range(64):  # 2^64 tree depth is unreachable; breaks on fixpoint
            # lazy + fused probe: the changed-row count is a full scan,
            # so ONE job both materializes the composed map and answers
            # the fixpoint question (eager + limit(1).count() was two)
            nxt = (
                m.alias("x")
                .join(
                    m.select(F.col("__from").alias("__f2"), F.col("__to").alias("__t2")),
                    F.col("x.__to") == F.col("__f2"),
                    "left",
                )
                .select(
                    F.col("x.__from").alias("__from"),
                    F.least(
                        F.col("x.__to"), F.coalesce(F.col("__t2"), F.col("x.__to"))
                    ).alias("__to"),
                    # NULL-safe: __t2 is NULL at roots -> FALSE (no change)
                    (F.col("__t2") < F.col("x.__to")).alias("__chg"),
                )
                .localCheckpoint(eager=False)
            )
            changed = nxt.where(F.col("__chg")).count() > 0
            prev_m, m = m, nxt.drop("__chg")
            prev_m.unpersist()
            if not changed:
                break
        m2 = m
        prev_labels, prev_cedges = labels, cedges
        labels = (
            labels.join(m2, labels["__label"] == m2["__from"], "left")
            .select(
                F.col("__node"),
                F.least(
                    F.col("__label"), F.coalesce(F.col("__to"), F.col("__label"))
                ).alias("__label"),
            )
            .localCheckpoint()
        )
        cedges = remap(cedges, m2).localCheckpoint(eager=False)
        n_cross = cedges.count()
        prev_labels.unpersist()
        prev_cedges.unpersist()
        # m2 (the round's final composed map) has served both consumers
        # (labels eager checkpoint + the cedges count) — release it
        # instead of leaking every round's map until GC
        m2.unpersist()
    # the in-loop check runs at round START, so a final round that just
    # emptied cedges needs one more look before declaring failure —
    # n_cross already holds the count of the current cedges snapshot
    if not converged and n_cross != 0:
        raise RuntimeError(
            f"dup-clusters did not converge within max_iter={max_iter} "
            "rounds — raise {'max_iter': N}; returning partial clusters "
            "would silently split components"
        )
    return labels


@defop("dup-clusters")
def op_dup_clusters(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Connected components of a pair relation (driver union-find to 100k pairs):

        ["dup-clusters", pairs, {"a": "doc_a", "b": "doc_b",
                                 "as": "doc_id", "max_iter": 15}]

    Returns (id, cluster) for every id that appears in a pair; cluster is
    the smallest member id of the component (the canonical
    representative). Compose after lsh-candidates / jaccard-pairs /
    neardup-pairs to turn near-dup PAIRS into dedup GROUPS; ids with no
    pair are their own representative (left-join this result and
    coalesce).

    The pair relation is checkpointed once, then fetched to the driver
    with ONE bounded Arrow fetch (``limit(CC_DRIVER_MAX_PAIRS + 1)``,
    100k rows, not an option). When it fits — the near-dup case: a
    corpus job verifies tens to thousands of pairs — a union-find with
    min-id roots closes the components on the driver, and the result
    returns as a local relation built from an Arrow table (no Python
    worker). Only integer and string ids take this path, whose Python
    order matches Spark's. The output equals the loop's row for row,
    NULL ids included (see _driver_components); ``max_iter`` does not
    apply, since the driver path has no rounds.

    Larger pair sets run the contraction-based batch iteration (the
    multi-level CC shape that holds at 100 TB): labels start as
    min(self, direct neighbors) — one aggregation over the edge list —
    and every subsequent round operates ONLY on the contracted
    cross-cluster edge graph, which collapses near-complete dup
    components after the first remap. Per round: a min-neighbor step
    plus a pointer-jump composition in label space (tiny joins), the
    node labels re-mapped through it, and the edge set re-contracted;
    convergence = the contracted edge set is empty (the per-round COUNT
    the driver coordinates). Only the initial step and first contraction
    scan the full edge list — rounds never re-touch it, unlike plain
    label propagation whose every round joins all edges. Each round
    ``localCheckpoint``s: iterative self-referencing DataFrames otherwise
    compound their logical plan (persist caches data, not analysis cost)
    until rounds take minutes. Checkpoints whose first consumer is a
    full-scan driver probe are taken with ``eager=False`` (r17), so the
    probe's job writes them and also answers the convergence test. That
    is not free of jobs: under AQE the call itself runs the checkpointed
    plan's shuffle stages, and only the last stage waits for the probe.
    It still saves the probe's extra final stage per pointer-doubling
    step (measured 87-117 jobs/invocation on the chain/random skew
    shapes before the fusion, 78-99 after). Relations read twice WITHIN
    one job (the pair relation under the symmetric union, the
    min-neighbor map under its self-join's two sides) stay EAGER:
    concurrent stage tasks racing a lazy cache would compute them
    twice. Past ``max_iter`` rounds the loop raises instead of returning
    split components. Batch-only by design: streaming connected
    components needs incremental union-find state, out of scope (run per
    micro-batch via foreach-batch if needed)."""
    from pyspark.sql.types import IntegralType, StringType

    opts = _opts(rest)
    a = opts.get("a", "doc_a")
    b = opts.get("b", "doc_b")
    out_id = opts.get("as", "doc_id")
    max_iter = int_opt(opts, "max_iter", "dup-clusters", 15, lo=1)
    if rel.df.isStreaming:
        raise ArityError("dup-clusters is batch-only (see docstring)")
    _require_columns(rel.df, "dup-clusters", a=a, b=b)

    # checkpoint the pair relation BEFORE the bounded fetch and the
    # symmetric union: each would otherwise re-run the (expensive)
    # upstream pair generation
    pairs = rel.df.select(
        F.col(a).alias("__src"), F.col(b).alias("__dst")
    ).localCheckpoint()
    edges = pairs.union(
        pairs.select(F.col("__dst").alias("__src"), F.col("__src").alias("__dst"))
    ).distinct()

    def labelled(labels):
        return labels.select(
            F.col("__node").alias(out_id), F.col("__label").alias("cluster")
        )

    if all(isinstance(f.dataType, IntegralType) or f.dataType == StringType()
           for f in pairs.schema):
        fetched = pairs.limit(CC_DRIVER_MAX_PAIRS + 1).toArrow()
        if fetched.num_rows <= CC_DRIVER_MAX_PAIRS:
            import pyarrow as pa

            pairs.unpersist()
            nodes, clusters = _driver_components(
                fetched.column("__src").to_pylist(), fetched.column("__dst").to_pylist()
            )
            # the loop's output schema, analysed from its own expressions
            # (no job): id types widen and nullability match exactly
            schema = labelled(_initial_labels(edges)).schema
            table = pa.Table.from_arrays(
                [pa.array(nodes), pa.array(clusters)], names=schema.fieldNames()
            )
            out = ctx.spark.createDataFrame(table, schema)
            return KStreamRel(out, key_cols=(out_id,))
    out = labelled(_contract_components(pairs, edges, max_iter))
    return KStreamRel(out, key_cols=(out_id,))


@defop("near-dedup")
def op_near_dedup(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """End-to-end near-duplicate removal over its input, pinned once.

    Rows whose id is a non-minimal member of a near-dup cluster are
    dropped; everything else (including rows with no near-dup) passes
    through unchanged.

    Composition of the gated building blocks — jaccard-pairs (exact
    verification within blocks; its opts col, id, block, threshold and
    shingle pass through, and it picks its plan from one bounded fetch)
    -> dup-clusters (driver union-find up to CC_DRIVER_MAX_PAIRS pairs,
    contraction connected components beyond; ``max_iter`` passes
    through) -> left_anti join against the non-representative ids (a
    set far smaller than the corpus, so Catalyst broadcasts it).

    The input is pinned once (DISK_ONLY, the _pin_tokens rule) before
    any of that runs. Three jobs read it: jaccard-pairs' plan-time
    fetch, the pair checkpoint in dup-clusters and the final anti join;
    unpinned, each re-ran the whole upstream pipeline. A call therefore holds two
    registry pins (this one and the pair stage's), freed by
    ``ksml_spark.release_pinned()``.

    ``{"method": "winnow"}`` swaps the pair stage for winnow-pairs
    (substring-granularity: docs sharing >= min_shared winnowing
    fingerprints cluster together even when whole-document Jaccard is
    low — the copied-paragraph case); winnow-pairs' opts (k, window,
    min_shared, max_fp_docs) pass through."""
    opts = _opts(rest)
    refuse_removed_opt(opts, "storage", "near-dedup", STORAGE_REMOVED)
    idc = opts.get("id", "doc_id")
    method = opts.get("method", "jaccard")
    if method not in ("jaccard", "winnow"):
        raise ArityError(
            f"near-dedup method must be 'jaccard' or 'winnow', got {method!r}"
        )
    from .util import spread

    # spread BEFORE the pin: a pinned relation hides its source files, so
    # the pair stage's own spread would no longer see a one-split source
    pinned = rel.with_df(_pin_tokens(spread(rel.df)))
    if method == "winnow":
        pairs = op_winnow_pairs(ctx, pinned, opts)
    else:
        pairs = op_jaccard_pairs(ctx, pinned, opts)
    clusters = op_dup_clusters(
        ctx, pairs, {"a": "doc_a", "b": "doc_b", "as": idc,
                     "max_iter": opts.get("max_iter", 15)}
    )
    losers = clusters.df.filter(F.col(idc) != F.col("cluster")).select(idc)
    return rel.with_df(pinned.df.join(losers, idc, "left_anti"))


# ---------------------------------------------------------------------------
# SimHash

def simhash_col(textc: str, bits: int = 64) -> Column:
    """Per-row EXPRESSION form of simhash_signatures: the 64-bit SimHash
    as one Column — higher-order folds over the token array (interpreted,
    so slower per row than the codegen agg path) but SHUFFLE-FREE and
    streaming-legal. Bit-identical values (same md5 halves, same
    tie-exact ``2*s_j > n`` vote; parity pinned by test). NULL text
    yields NULL."""
    from .util import let1

    toks = tokens_col(F.col(textc))
    # hash each token once: the hashed array is LET1-BOUND (r18) so the
    # ``bits`` folds below read a lambda variable — each of the 64
    # F.aggregate calls used to embed (and re-evaluate) the whole
    # md5-per-token subtree, re-hashing every token 64x per row
    hs = F.transform(
        toks,
        lambda t: F.struct(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long").alias("lo"),
        ),
    )

    def _bit_sum(j: int):
        half = "lo" if j < 32 else "hi"
        sh = j % 32

        def fn(acc, s):
            return acc + F.shiftright(s.getField(half), sh).bitwiseAND(F.lit(1))

        return fn

    def _sim_of(hb: Column) -> Column:
        n = F.size(hb)
        sim = F.lit(0).cast("long")
        for j in range(bits):
            s_j = F.aggregate(hb, F.lit(0).cast("long"), _bit_sum(j))
            sim = sim + F.when(
                s_j * 2 > n, F.shiftleft(F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long"))
        return sim

    return F.when(F.col(textc).isNull(), F.lit(None).cast("long")).otherwise(
        let1(hs, _sim_of)
    )


def simhash_signatures(df: DataFrame, idc: str, textc: str, bits: int = 64) -> DataFrame:
    """(id, simhash) — 64-bit SimHash per document: per-token 64-bit hash,
    per-bit +1/-1 vote, sign of each vote -> bit.

    Plan shape: explode tokens -> hash once -> aggregate the raw BIT sums
    (sum of bit j over tokens, plus the token count n) -> bit
    recombination with the tie-exact vote test ``2*s_j > n`` (the ±1 vote
    sum is 2*s_j − n, so "vote sum > 0" is identical, ties cleared).
    Summing bare ``(h >> j) & 1`` instead of a ±1 CASE per bit halves the
    per-row expression work (measured ~30% on the whole query).
    Everything whole-stage-codegen'd (a higher-order fold would be
    interpreted and ~10x slower); the shuffle carries id + 65 longs with
    map-side partial sums.

    The token hash is ENGINE-PORTABLE: md5(token) sliced into two 32-bit
    halves (hi = hex 1-8, lo = hex 9-16), same construction the MinHash
    family uses — so the DuckDB oracle reproduces signatures bit-exactly
    (('0x'||substr(md5(t),p,8))::BIGINT on the other side). One md5 per
    token occurrence; both halves slice the same md5 column.

    The (id, text) projection is spread across cores before the explode:
    testdata parquet is one row group = one task, and md5 + 64 bit-sums
    per token is exactly the per-row-heavy shape a single split
    serializes (measured 2x at sf0.1). A per-doc token-count pre-agg
    (md5 once per distinct token, weighted votes) measured SLOWER once
    parallel — the extra (id, token) shuffle costs more than the ~2.3x
    md5 dedup saves."""
    from .util import spread

    toks = spread(df.select(F.col(idc), F.col(textc))).select(
        F.col(idc), F.explode(tokens_col(F.col(textc))).alias("__tok")
    )
    # two-step select guarantees md5 runs once per token (no reliance on
    # codegen subexpression elimination across 64 bit extractions)
    md5d = toks.select(F.col(idc), F.md5(F.col("__tok")).alias("__m"))
    hashed = md5d.select(
        F.col(idc),
        F.conv(F.substring(F.col("__m"), 1, 8), 16, 10).cast("long").alias("__hhi"),
        F.conv(F.substring(F.col("__m"), 9, 8), 16, 10).cast("long").alias("__hlo"),
    )
    summed = hashed.groupBy(idc).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.shiftright(F.col("__hlo" if j < 32 else "__hhi"), j % 32)
                .bitwiseAND(F.lit(1))
            ).alias(f"__s{j}")
            for j in range(bits)
        ],
    )
    # bit j contributes 1 << j (bit 63 is the sign bit of a signed long)
    acc = F.lit(0).cast("long")
    for j in range(bits):
        power = F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
        acc = acc + F.when(
            2 * F.col(f"__s{j}") > F.col("__n"), power
        ).otherwise(F.lit(0).cast("long"))
    return summed.select(F.col(idc), acc.alias("simhash"))


@defop("simhash-pairs")
def op_simhash_pairs(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Near-duplicate pairs by SimHash hamming distance:

        ["simhash-pairs", rel, {"col": "text", "id": "doc_id",
                                "max_hamming": 3}]

    Plan: signatures once per doc (explode -> codegen agg, see
    simhash_signatures), then the 64-bit hash is cut into four 16-bit
    bands. By pigeonhole, two hashes within hamming distance <= 3 agree
    exactly on at least one band, so candidates are an equi-join on
    (band index, band value) — shuffle O(rows·4), never all-pairs — and
    the exact ``bit_count(a XOR b) <= k`` check runs only on candidates.
    max_hamming must be < 4 (the band count) for the pigeonhole bound;
    larger thresholds need more/smaller bands. Portable md5 hashes
    (see simhash_signatures), so the DuckDB oracle brute-forces the
    same pairs from the same signatures.

    Operating envelope (measured by the late-r13 recall probe, numbers
    in docs/SCALE.md): 64-bit
    hamming <= 3 requires ~99% feature sharing (per-bit correlation
    ~cos(3pi/64)), so this op finds NEAR-IDENTICAL documents — 0.93 /
    0.85 / 0.73 recall at 1/2/4 token edits on 400-token docs, and
    ZERO pairs at shingle-jaccard 0.3-0.9. That is the construction's
    math, not a defect: the 0.7-0.9 near-dup regime belongs to
    lsh-candidates (minhash S-curve) and neardup-pairs (embedding
    cosine); use simhash-pairs for crawl-boilerplate-class dedup."""
    if rel.df.isStreaming:
        raise TypeDispatchError(
            "simhash-pairs self-joins the corpus-global signature table "
            "and is batch-only; use lsh-join for incremental near-dup "
            "on streams"
        )
    opts = _opts(rest)
    idc = opts.get("id", "doc_id")
    k = int_opt(opts, "max_hamming", "simhash-pairs", 3)
    if k >= 4:
        raise ArityError(
            "simhash-pairs: max_hamming must be < 4 for 4-band pigeonhole "
            "bucketing (use jaccard-pairs/lsh-candidates for looser matching)"
        )
    sigs = simhash_signatures(rel.df, idc, opts.get("col", "text")).localCheckpoint()
    banded = sigs.select(
        F.col(idc),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), b * 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("bucket"),
                )
                for b in range(4)
            ])
        ).alias("__b"),
    ).select(F.col(idc), "simhash", F.col("__b.band"), F.col("__b.bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{idc}") < F.col(f"b.{idc}")),
            "inner",
        )
        .select(
            F.col(f"a.{idc}").alias("doc_a"),
            F.col(f"b.{idc}").alias("doc_b"),
            F.col("a.simhash").alias("__ha"),
            F.col("b.simhash").alias("__hb"),
        )
        .distinct()  # a close pair can share several bands
    )
    pairs = (
        cand.withColumn(
            "hamming", F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
        )
        .filter(F.col("hamming") <= k)
        .select("doc_a", "doc_b", "hamming")
    )
    return KStreamRel(pairs, key_cols=("doc_a", "doc_b"))


@defop("simhash")
def op_simhash(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Adds a 64-bit "simhash" column (batch: codegen bit-sum agg +
    join back on the id; streaming: the per-row HOF expression —
    shuffle-free, bit-identical, so a live stream gets near-dup
    signatures with no stateful agg; NULL-text rows dropped on both
    paths, matching the batch inner join)."""
    opts = _opts(rest)
    idc = opts.get("id", "doc_id")
    colc = opts.get("col", "text")
    out = opts.get("as", "simhash")
    if rel.df.isStreaming:
        return rel.with_df(
            rel.df.filter(F.col(colc).isNotNull())
            .withColumn(out, simhash_col(colc))
        )
    sigs = simhash_signatures(rel.df, idc, colc)
    if out != "simhash":
        sigs = sigs.withColumnRenamed("simhash", out)
    return rel.with_df(rel.df.join(sigs, idc, "inner"))


@defop("dup-spans")
def op_dup_spans(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Duplicated-span statistics per document — the relational core of
    exact-substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": repeated >=k-token
    spans across documents are the memorization-driving duplicates that
    MinHash's whole-document granularity misses).

        ["dup-spans", rel, {"col": "text", "id": "doc_id", "k": 3}]

    Output: (id, n_spans, dup_spans, dup_fraction) where a span is a
    positional k-token shingle (short docs fall back to the whole text
    as one span, matching shingles_col) and a span is *duplicated* when
    the identical shingle occurs in >= 2 distinct documents. A
    downstream filter on dup_fraction is the standard "drop documents
    that are mostly copied" gate; NULL-text rows are excluded, matching
    the minhash family convention.

    Plan (all hash aggregates + one equi-join, linear in total tokens —
    never pairwise): explode 60-bit shingle hashes -> per-(doc, gram)
    counts (also the per-doc span totals) -> per-gram distinct-doc
    counts -> join grams seen in >=2 docs back to per-doc counts. The
    per-(doc, gram) relation feeds three consumers, so it is pinned
    (bounded registry, see _pin_tokens) instead of recomputing the
    tokenize+md5 lineage per branch. Corpus-global statistic ->
    batch-only, with the curated streaming error."""
    opts = _opts(rest)
    idc = opts.get("id", "doc_id")
    colc = opts.get("col", "text")
    k = int_opt(opts, "k", "dup-spans", SHINGLE_K)
    if k < 1:
        raise ArityError("dup-spans needs k >= 1")
    if rel.df.isStreaming:
        raise TypeDispatchError(
            "dup-spans aggregates corpus-global span counts and is "
            "batch-only; run per micro-batch via foreach-batch, or use "
            "minhash/lsh-join for incremental near-dup on streams"
        )
    from .util import md5_long_col, pin, spread

    grams = spread(rel.df.filter(F.col(colc).isNotNull())).select(
        F.col(idc),
        F.explode(
            F.transform(shingles_col(F.col(colc), k), lambda s: md5_long_col(s))
        ).alias("__g"),
    )
    per_doc_gram = pin(
        grams.groupBy(idc, "__g").agg(F.count(F.lit(1)).alias("__cnt"))
    )
    shared = (
        per_doc_gram.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__g")
    )
    totals = per_doc_gram.groupBy(idc).agg(F.sum("__cnt").alias("n_spans"))
    dups = (
        per_doc_gram.join(shared, "__g", "inner")
        .groupBy(idc)
        .agg(F.sum("__cnt").alias("__dup"))
    )
    out = totals.join(dups, idc, "left").select(
        F.col(idc),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.coalesce(F.col("__dup"), F.lit(0)).cast("long").alias("dup_spans"),
        F.round(
            F.coalesce(F.col("__dup"), F.lit(0)) / F.col("n_spans"), 6
        ).alias("dup_fraction"),
    )
    return rel.with_df(out)


def _winnow_exprs(colc: str, k: int, w: int):
    """(hashes, windows) Column pair for robust winnowing. ``windows``
    references a materialized "__h" column — ALWAYS project ``hashes``
    as __h in its own select first; inlining it re-expands the md5
    chain per window (the documented winnow plan hazard)."""
    from .util import md5_long_col

    hashes = F.transform(
        shingles_col(F.col(colc), k), lambda s: md5_long_col(s)
    )
    windows = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(F.col("__h")) - (w - 1), F.lit(1))
        ),
        lambda j: F.array_min(F.slice(F.col("__h"), j, w)),
    )
    return hashes, windows


@defop("winnow")
def op_winnow(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Robust-winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm): from the sequence of k-token shingle
    hashes, keep the MINIMUM hash of every sliding window of ``window``
    consecutive shingles. Guarantees: any shared run of window+k-1
    tokens between two documents yields at least one shared
    fingerprint, while storage is ~2/(window+1) of the shingle count —
    the classic substring-granularity near-dup sketch, cheaper than
    dup-spans' full postings and joinable like minhash bands.

        ["winnow", rel, {"col": "text", "id": "doc_id",
                         "k": 3, "window": 4, "as": "fp"}]

    Adds ``as`` = array<bigint> of DISTINCT selected fingerprints (set
    semantics, so the min-tie rule of the original algorithm is moot).
    Pure per-row expression chain (shingles -> md5 longs -> sliding
    array_min -> array_distinct): shuffle-free, whole-stage codegen,
    streaming-legal unchanged — a live crawl gets fingerprints with no
    state. Short docs (< k tokens) hash the whole text as one shingle;
    NULL-text rows are dropped (minhash family convention)."""
    opts = _opts(rest)
    idc = opts.get("id", "doc_id")
    colc = opts.get("col", "text")
    k = int_opt(opts, "k", "winnow", SHINGLE_K)
    w = int_opt(opts, "window", "winnow", 4)
    out = opts.get("as", "fp")
    if k < 1 or w < 1:
        raise ArityError("winnow needs k >= 1 and window >= 1")
    if not isinstance(out, str):
        raise ArityError('winnow {"as": ...} must be a column-name string')
    if out in rel.df.columns:
        raise ArityError(
            f"winnow: output column {out!r} already exists on the input; "
            'rename it upstream or pass a different "as" name'
        )
    from .util import spread

    hashes, windows = _winnow_exprs(colc, k, w)
    src = rel.df if rel.df.isStreaming else spread(rel.df)
    df = src.filter(F.col(colc).isNotNull()).withColumn("__h", hashes)
    return rel.with_df(
        df.withColumn(out, F.array_distinct(windows)).drop("__h")
    )


@defop("winnow-pairs")
def op_winnow_pairs(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Candidate near-dup pairs from shared winnowing fingerprints — the
    pair-generation half of the MOSS pipeline (winnow gives the sketch;
    this joins it):

        ["winnow-pairs", rel, {"col": "text", "id": "doc_id",
                               "k": 3, "window": 4, "min_shared": 2,
                               "max_fp_docs": 1000,
                               "as": ["doc_a", "doc_b"]}]
        -> (doc_a, doc_b, n_shared): pairs sharing >= min_shared
           fingerprints, doc_a < doc_b.

    Plan: per-row fingerprint arrays -> explode to (id, fp) postings
    (pinned: the self-join reads them twice) -> equi-join on fp with
    id-ordering -> one hash agg counting shared fingerprints. Shuffle
    is O(docs x fingerprints-per-doc) — winnowing keeps that at
    ~2/(window+1) of the shingle count, cheaper than jaccard-pairs'
    full postings. ``max_fp_docs`` drops fingerprints present in more
    than that many documents (boilerplate phrases — the MOSS "too
    common to be meaningful" rule, and the skewed-join-key relief: a
    hot fingerprint's pair fan-out is quadratic in its document count).
    Batch-only: incremental cross-corpus candidates belong to lsh-join."""
    opts = _opts(rest)
    idc = opts.get("id", "doc_id")
    colc = opts.get("col", "text")
    k = int_opt(opts, "k", "winnow-pairs", SHINGLE_K)
    w = int_opt(opts, "window", "winnow-pairs", 4)
    min_shared = int_opt(opts, "min_shared", "winnow-pairs", 1)
    max_fp_docs = opts.get("max_fp_docs", 1000)
    out_as = opts.get("as", ["doc_a", "doc_b"])
    if not (isinstance(out_as, (list, tuple)) and len(out_as) == 2
            and all(isinstance(c, str) for c in out_as)):
        raise ArityError(
            'winnow-pairs {"as": ...} must be a 2-element list of output '
            f"column names, got {out_as!r}"
        )
    if out_as[0] == out_as[1]:
        raise ArityError(
            f'winnow-pairs {{"as": ...}} names must differ, both are '
            f"{out_as[0]!r}"
        )
    if k < 1 or w < 1 or min_shared < 1:
        raise ArityError(
            "winnow-pairs needs k >= 1, window >= 1, min_shared >= 1"
        )
    if rel.df.isStreaming:
        raise TypeDispatchError(
            "winnow-pairs self-joins corpus-global postings and is "
            "batch-only; use lsh-join for incremental stream-vs-corpus "
            "candidates"
        )
    out_a, out_b = out_as
    from .util import pin, spread

    hashes, windows = _winnow_exprs(colc, k, w)
    # pin the RAW postings: the md5 shingle chain is the expensive part
    # and every consumer below (cap agg, cap join, both join sides)
    # would otherwise re-evaluate it
    postings = pin(
        spread(rel.df.filter(F.col(colc).isNotNull()))
        .select(F.col(idc), hashes.alias("__h"))
        .select(F.col(idc), F.explode(F.array_distinct(windows)).alias("__fp"))
    )
    if max_fp_docs:
        # per-fp doc counts are one hash agg over the pinned postings;
        # only fingerprints under the cap flow into the quadratic join
        keep = (
            postings.groupBy("__fp")
            .agg(F.count(F.lit(1)).alias("__nd"))
            .filter(F.col("__nd") <= int(max_fp_docs))
            .select("__fp")
        )
        postings = postings.join(keep, "__fp", "inner")
    a = postings.select(F.col(idc).alias(out_a), "__fp")
    b = postings.select(F.col(idc).alias(out_b), "__fp")
    pairs = (
        a.join(b, "__fp", "inner")
        .filter(F.col(out_a) < F.col(out_b))
        .groupBy(out_a, out_b)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return KStreamRel(pairs, key_cols=(out_a, out_b))

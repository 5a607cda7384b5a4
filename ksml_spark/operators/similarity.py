"""Similarity search over embedding columns (SURVEY.md §2.10).

Not in the reference (cddr/ksml wraps the Kafka Streams DSL only); these
are the vector-search extension operators:

    ["ann-topk", rel, {"id": "vec_id", "vec": "embedding", "k": 3,
                       "queries": "vec_id % 50 = 0"}]
        brute-force cosine top-k: every query row against every candidate.
    ["ann-lsh-topk", rel, {... , "sign_dims": 8}]
        LSH-bucketed approximate variant: candidates restricted to the
        query's sign-hash bucket (random-hyperplane LSH with axis-aligned
        planes = the signs of the first d dimensions).
    ["neardup-pairs", rel, {"id", "vec", "block": "label", "threshold"}]
        embedding-cosine near-duplicate pairs within blocking groups
        (or {"lsh_dims": d} sign-LSH buckets; unblocked all-pairs only
        with an explicit {"allow_full": true}).

Scale posture: the brute-force path broadcasts the (small) query side and
streams candidates through it — no shuffle of the big side, O(Q·N) work
spread across partitions; it is the exact baseline. The LSH path shuffles
both sides on the bucket key (cost O(N), like any keyed join) and is the
100 TB path: each query scans only its bucket; the IVF path adds
centroid-cluster probing on top. Dot products keep sequential element
order (unrolled element_at chains when the dimension is known, zip_with +
aggregate otherwise) — bit-reproducible against the DuckDB oracle
(list_dot_product).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..eval import Ctx, defop
from ..model import KStreamRel, Rel


from .util import opts_of as _opts  # noqa: E402  (shared option merging)
from .util import req_opt as _req  # noqa: E402  (curated required-option fetch)
from .util import float_opt, int_opt  # noqa: E402  (curated parses)
from .util import STORAGE_REMOVED, refuse_removed_opt  # noqa: E402
from .util import pos_int_opt as _pos_int_opt  # noqa: E402  (curated >= 1 int parse)


def dot_col(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    """Sequential-order dot product (matches DuckDB list_dot_product
    bit-for-bit on identical inputs).

    With a known ``dim`` the sum is unrolled into a left-associated
    F.get (0-based, NULL out-of-range) chain — whole-stage-codegen'd,
    ~10x faster than the higher-order aggregate (which Spark evaluates
    interpreted) and ~2.5x faster than an element_at chain (element_at
    carries 1-based index translation + invalid-index branches), with the
    identical sequential float addition order. F.get over getItem (r13):
    under ANSI, GetArrayItem carries an INVALID_ARRAY_INDEX throw branch
    per element, so ONE shorter-than-dim vector in 100 TB aborted every
    expr-plan ANN/kmeans/semdedup job — Get returns NULL instead (the
    dot and norm go NULL, and the degenerate-row envelope drops the row
    exactly like the blas path always did), and the branchless access
    also measured ~25% FASTER at dim 64 (0.43 vs 0.57s min-warm on the
    128k-row A/B). The chain seeds from the first product, not a 0.0
    literal: (0.0 + t0) would flip the sign of a -0.0 first term and
    break bit-reproducibility."""
    if dim:
        acc = F.get(a, 0) * F.get(b, 0)
        for i in range(1, dim):
            acc = acc + F.get(a, i) * F.get(b, i)
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_col(a: Column, dim: Optional[int] = None) -> Column:
    return F.sqrt(dot_col(a, a, dim))


def sign_bucket_col(vec: Column, dims: int, start: int = 1) -> Column:
    """Axis-aligned random-hyperplane LSH: the sign pattern of ``dims``
    coordinates from 1-based position ``start``, as a '0'/'1' string."""
    return F.concat_ws(
        "",
        F.transform(
            F.slice(vec, start, dims), lambda x: F.when(x > 0, "1").otherwise("0")
        ),
    )


def _band_buckets(vec: Column, dims: int, bands: int) -> Column:
    """OR-construction banding: band j's bucket is the sign pattern of
    coordinates [j*dims, (j+1)*dims), prefixed with the band index so
    two bands never share a join key. array<string> of ``bands``
    buckets per vector."""
    return F.array(*[
        F.concat_ws(
            ":", F.lit(str(j)), sign_bucket_col(vec, dims, start=j * dims + 1)
        )
        for j in range(bands)
    ])


def _prepared(rel: Rel, idc: str, vecc: str, dim: Optional[int] = None) -> DataFrame:
    """Project to (id, double-vector, norm) — norms computed once per row."""
    v = F.col(vecc).cast("array<double>")
    return rel.df.select(F.col(idc), v.alias("__v"), norm_col(v, dim).alias("__n"))


def _centroid_sim(dim: Optional[int]) -> Column:
    """Cosine against a broadcast centroid row, NULL for zero-norm AND
    NaN pairs. The CASE WHEN is evaluated lazily per row, so a
    zero-norm vector (or centroid) yields NULL instead of an ANSI
    DIVIDE_BY_ZERO job failure. The outer nanvl guard nulls NaN cosines
    (an Inf component is practically unreachable here — it forces an Inf
    norm, and Inf/Inf is NaN, so NaN is the only non-finite sim):
    a NaN vector component makes the norm (and hence the raw sim)
    NaN, and under Spark's NaN ordering ``NaN > 0`` is TRUE — without
    the guard such a vector would take a real cluster and its NaN pair
    cosine would satisfy ``>= threshold``, silently dropping it as a
    duplicate. With sim NULL for every centroid, _nearest_order skips
    the row and it assigns cluster NULL → the degenerate/audit branch,
    matching the np.isfinite exclusions in kmeans-centroids and
    semdedup-join. ``nanvl`` evaluates the dim-unrolled dot chain ONCE
    (the old ``F.when(~isnan(raw), raw)`` form inlined it twice —
    ADVICE r10); nanvl(NULL, y) = NULL, so zero-norm rows stay NULL."""
    denom = F.col("__n") * F.col("__cn")
    raw = F.when(denom > 0, dot_col(F.col("__v"), F.col("__cv"), dim) / denom)
    return F.nanvl(raw, F.lit(None).cast("double"))


def _nearest_order() -> Column:
    """min_by ordering for nearest-centroid argmax: (-sim, centroid id)
    picks max similarity, ties to the smallest id. Negating the SIM
    instead of the id keeps the tie-break valid for string centroid ids
    (the old -__cid form required a numeric id and failed analysis with
    an opaque cast error otherwise). The whole struct goes NULL when the
    sim is NULL so min_by SKIPS zero-norm rows (a struct with a NULL
    first field would otherwise compare smallest and wrongly win);
    a vector whose every centroid sim is NULL gets cluster NULL."""
    return F.when(
        F.col("__csim").isNotNull(),
        F.struct((-F.col("__csim")).alias("s"), F.col("__cid").alias("c")),
    )


# the nearest-centroid assignment cutover: below this K the codegen
# crossJoin fan-out wins (zero Arrow transfer, stays in whole-stage
# codegen); at or above it the N x K dot work dominates and one BLAS
# matmul per Arrow batch is 1-2 orders faster per element. 257 keeps
# every bundled-testdata query (K <= ~16 at the %127 sampling) on the
# oracle-reference expr plan.
_BLAS_ASSIGN_MIN_K = 257


def _seqdot(a, b) -> float:
    """Strictly left-to-right IEEE-double accumulation — the exact
    summation order of dot_col's unrolled chain and DuckDB's
    list_dot_product, so re-decided values agree with the oracle
    BIT-FOR-BIT (shared by the semdedup-join near-tie pass and the
    kmeans-assign/ann-ivf blas path)."""
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def _build_blas_cents(init_rows, dim: int):
    """Collected centroid rows -> (cids asc, unit matrix, raw matrix,
    sequential norms), skipping degenerate centroids (NULL id / short /
    non-finite / zero-norm — the rows whose expr-plan sims are NULL and
    never win). None when nothing is usable."""
    import math

    import numpy as np

    cents = []
    for r in sorted(
        init_rows, key=lambda r: (r["__cid"] is None, r["__cid"])
    ):
        v = r["__cv"]
        if r["__cid"] is None or v is None or len(v) < dim:
            continue
        a = np.asarray(v[:dim], dtype=np.float64)
        # usability keyed on the SEQUENTIAL norm — the exact value the
        # expr plan's norm_col computes — so the blas envelope (which
        # centroids count as degenerate) matches the expr plan's by
        # construction, not by a zero-ness-equivalence argument
        # (ADVICE r12). For finite doubles the two CAN'T disagree on
        # zero-ness anyway — per-term squares round identically and
        # nonnegative addition is monotone in IEEE, so any positive
        # term makes both sums positive — which also keeps the a/n
        # unit division safe whenever sn > 0.
        sn = math.sqrt(_seqdot(a, a))
        if not np.isfinite(a).all() or sn <= 0.0:
            continue
        n = float(np.linalg.norm(a))
        cents.append((r["__cid"], a / n, a, sn))
    if not cents:
        return None
    return (
        [c for c, _, _, _ in cents],
        np.vstack([u for _, u, _, _ in cents]),
        np.vstack([a for _, _, a, _ in cents]),
        np.asarray([sn for _, _, _, sn in cents]),
    )


def _blas_probe_udf(ctx: Ctx, cid_type, init_rows, dim: int, nprobe: int):
    """Top-``nprobe`` nearest-centroid probe as one BLAS matmul +
    stable argsort per Arrow batch — the query-side twin of
    _blas_assign_udf (r12): returns array<cid> of the nprobe nearest
    usable centroids by (cosine DESC, cid ASC), bit-matching the expr
    plan's row_number window on every input that matters downstream:

    * the stable argsort on ascending-id centroids reproduces the
      cid-ASC tie-break;
    * a BOUNDARY near-tie (rank-nprobe vs rank-nprobe+1 cosine gap
      within 1e-9) is re-ranked with exact sequential dots — order
      INSIDE the probe set is immaterial (the candidate join consumes
      it as a set), so only the boundary needs the exact pass;
    * degenerate centroids are skipped — the guarded expr plan ranks
      their NULL sims last, and no member is ever ASSIGNED to one, so
      probing them matches nothing: candidate sets agree;
    * degenerate queries never reach this UDF: ann-ivf filters
      ``_valid_vec()`` at construction (r13), which drops zero-norm,
      NaN, short and NULL vectors outright. The NULL/short fallback
      branch below is therefore defensive only — both plans emit zero
      rows for such queries either way."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType

    built = _build_blas_cents(init_rows, dim)
    if built is None:
        return None
    bc = ctx.spark.sparkContext.broadcast(built)

    @pandas_udf(ArrayType(cid_type))
    def _probe(vs):
        import math as _math

        cids_, cn, craw_, crn_ = bc.value
        k = cn.shape[0]
        take = min(nprobe, k)
        smallest = list(cids_[:take])
        arrs = vs.to_numpy()
        out = []
        for a in arrs:
            if a is None or len(a) < cn.shape[1]:
                out.append(smallest)
                continue
            v = np.asarray(a[: cn.shape[1]], dtype=np.float64)
            rn = float(np.linalg.norm(v))
            if not np.isfinite(v).all() or rn <= 0.0:
                out.append(smallest)
                continue
            scores = cn @ v
            idx = np.argsort(-scores, kind="stable")
            if k > take:
                gap = (scores[idx[take - 1]] - scores[idx[take]]) / rn
                if gap <= 1e-9:
                    # exact boundary re-rank: sequential cosines on the
                    # raw vectors, ordered by (-cos, cid position)
                    nv = _math.sqrt(_seqdot(v, v))
                    exact = sorted(
                        range(k),
                        key=lambda j: (
                            -(_seqdot(v, craw_[j]) / (nv * crn_[j])),
                            j,
                        ),
                    )
                    out.append([cids_[j] for j in exact[:take]])
                    continue
            out.append([cids_[j] for j in idx[:take]])
        return pd.Series(out)

    return _probe


def _blas_assign_udf(ctx: Ctx, cid_type, init_rows, dim: int):
    """Build the exact-argmax BLAS assignment UDF over a collected
    centroid set, or None when no centroid is usable (caller falls back
    to the expr plan, whose all-NULL sims produce the same all-NULL
    assignment).

    Bit-exactness contract (the semdedup-join r11 near-tie machinery,
    generalized): argmax by cosine with ties to the smallest centroid id
    must equal the expr plan's min_by((-sim, cid)) — and through it the
    DuckDB oracle's row_number ORDER BY sim DESC, cid — on every input
    inside the op's envelope (vectors of >= dim finite doubles; rows
    outside it get NULL on both plans):

    * centroids sort ascending by id and np.argmax keeps the first max,
      so exact ties pick the smallest id;
    * rows whose best/second-best cosine gap is within summation-order
      error (<= 1e-9 of cosine scale; BLAS reassociation is ~1e-13
      relative at these dims) are re-decided with left-to-right
      sequential dots on the RAW centroid vectors — the oracle's exact
      arithmetic;
    * degenerate rows (NULL / short / non-finite / zero-norm vectors)
      return NULL, matching the expr plan's NULL-sim skip; vectors
      LONGER than dim are truncated to the first dim components,
      exactly like the unrolled chain. (Since the r13 F.get switch the
      expr plan also NULLs shorter-than-dim vectors — the envelopes
      match on every degenerate class now, where getItem used to abort
      the expr job with ANSI INVALID_ARRAY_INDEX);
    * degenerate centroids (NULL id / short / non-finite / zero-norm)
      are skipped, matching their never-winning NULL sims."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    built = _build_blas_cents(init_rows, dim)
    if built is None:
        return None
    bc = ctx.spark.sparkContext.broadcast(built)

    @pandas_udf(cid_type)
    def _assign(vs):
        import math as _math

        cids_, cn, craw_, crn_ = bc.value
        arrs = vs.to_numpy()
        res = np.full(len(arrs), None, dtype=object)
        ok = np.fromiter(
            (a is not None and len(a) >= cn.shape[1] for a in arrs),
            dtype=bool, count=len(arrs),
        )
        if ok.any():
            mat = np.vstack([
                np.asarray(a[: cn.shape[1]], dtype=np.float64)
                for a in arrs[ok]
            ])
            rn = np.linalg.norm(mat, axis=1)
            good = np.isfinite(mat).all(axis=1) & (rn > 0.0)
            scores = mat @ cn.T
            idx = scores.argmax(axis=1)
            if cn.shape[0] > 1:
                part = np.partition(scores, -2, axis=1)
                with np.errstate(invalid="ignore", divide="ignore"):
                    gap = (part[:, -1] - part[:, -2]) / rn
                for i in np.flatnonzero(good & (gap <= 1e-9)):
                    v = mat[i]
                    nv = _math.sqrt(_seqdot(v, v))
                    best, bi = None, idx[i]
                    for k in range(craw_.shape[0]):
                        cosk = _seqdot(v, craw_[k]) / (nv * crn_[k])
                        if best is None or cosk > best:
                            best, bi = cosk, k
                    idx[i] = bi
            picks = np.asarray(cids_, dtype=object)[idx]
            picks[~good] = None
            res[np.flatnonzero(ok)] = picks
        return pd.Series(res)

    return _assign


def _cents_of_rel(cents_rel: Rel, opts, op_name: str, dim):
    """Resolve a centroid RELATION operand to the (__cid, __cv, __cn)
    shape the assignment plans consume (r12): accepts kmeans-centroids
    output (cluster, centroid, n) by default, or any relation via
    {'centroid_id': col, 'centroid_vec': col} — e.g. a centroid table
    read from parquet, the train-once / assign-many 100 TB pattern.
    The norm expression is identical to the filter-expr path's, so an
    assignment against a relation holding exactly the filter's rows is
    bit-identical (pinned by test). Must be batch: the centroid set is
    broadcast (expr plan) or collected (blas plan) whole."""
    from ..errors import ArityError

    cidc = opts.get("centroid_id", "cluster")
    cvec = opts.get("centroid_vec", "centroid")
    if cents_rel.df.isStreaming:
        raise ArityError(
            f"{op_name} centroid relation must be batch (it is "
            "broadcast/collected once); snapshot or materialize the "
            "stream first"
        )
    missing = {cidc, cvec} - set(cents_rel.df.columns)
    if missing:
        raise ArityError(
            f"{op_name} centroid relation is missing column(s) "
            f"{sorted(missing)} — expected the (cluster, centroid) shape "
            "kmeans-centroids returns, or name yours with "
            "{'centroid_id': col, 'centroid_vec': col}"
        )
    v = F.col(cvec).cast("array<double>")
    return cents_rel.df.select(
        F.col(cidc).alias("__cid"), v.alias("__cv"),
        norm_col(v, dim).alias("__cn"),
    )


def _assign_max_k(opts, op_name: str) -> int:
    """Parse {'max_k': n}, refusing the retired {'assign_impl': ...}."""
    refuse_removed_opt(
        opts, "assign_impl", op_name,
        f"the assignment path follows the centroid count (BLAS at K >= "
        f"{_BLAS_ASSIGN_MIN_K} with a fixed 'dim', the expression plan below)",
    )
    return int_opt(opts, "max_k", op_name, 65536, lo=1)


def _use_blas_assign(dim, init_rows) -> bool:
    """The assignment path, picked from what construction observes: the
    BLAS matmul pick needs a fixed width and wins once K reaches
    _BLAS_ASSIGN_MIN_K; NULL centroid ids stay on the expression plan."""
    return bool(
        dim
        and len(init_rows) >= _BLAS_ASSIGN_MIN_K
        and all(r["__cid"] is not None for r in init_rows)
    )


from .util import spread as _spread  # noqa: E402  (shared plan helper)


def _pair_sim(dot: Column, den: Column) -> Column:
    """Guarded pair cosine (r13, the _centroid_sim rationale applied to
    the candidate-pair divisions): NULL instead of an ANSI
    DIVIDE_BY_ZERO job abort when a zero-norm vector reaches the
    division, and NULL instead of NaN when a NaN component does (a NaN
    sim would otherwise rank FIRST under Spark's NaN ordering and pass
    ``>= threshold`` filters). Degenerate rows are normally excluded at
    construction (`_valid_vec` on the query and candidate sides), so
    this guard is defensive depth: it covers the residual classes the
    envelope can't (an Inf/Inf overflow cosine from ~1e154-magnitude
    components) and any future call site that forgets the filter. One
    bad vector in 100 TB must cost one NULL pair, not the job."""
    return F.nanvl(F.when(den > 0, dot / den), F.lit(None).cast("double"))


def _valid_vec(v: Column, dim: Optional[int]) -> Column:
    """Construction-time envelope predicate for the pair-cosine ops
    (r13): TRUE iff the vector has a finite POSITIVE norm — i.e. it is
    non-NULL, has >= dim elements, no NaN in the first dim, and some
    element whose SQUARE is > 0.0 (``x != 0`` is not enough: 1e-200
    squares underflow to 0.0, so the norm is zero for a nonzero
    vector; a positive squared term is exactly "the sequential sum of
    squares is positive", nonnegative IEEE addition being monotone).

    Deliberately built from higher-order exists/forall (interpreted,
    codegen-fallback) rather than the norm column itself: a predicate
    containing the dim-unrolled norm chain gets pushed past the
    projection by Catalyst and REPEATS the whole chain in the scan
    filter (measured: ann-lsh 0.56s -> 2.7s at sf0.1, almost all
    Janino compile of the duplicated 64-term predicate), and a
    post-join ``isnotnull(sim)`` filter is worse still — it lands in
    the JOIN CONDITION and doubles the per-PAIR dot work. One
    interpreted lambda pass per row costs microseconds and keeps every
    chain evaluated exactly once."""
    checks = [v.isNotNull()]
    if dim:
        s = F.slice(v, 1, int(dim))
        checks.append(F.size(v) >= int(dim))
    else:
        s = v
    # NULL elements too: isnan(NULL) is false in Spark, so a
    # [NULL, 1.0, ...] vector would slip past the NaN check with a NULL
    # norm and surface NULL sims downstream (ranked, never aborting —
    # but a row with no defined cosine must match nothing)
    checks.append(~F.exists(s, lambda x: x.isNull() | F.isnan(x)))
    checks.append(F.exists(s, lambda x: x * x > 0))
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def _topk(pairs: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("__sim").desc(), F.col("n_id").asc())
    # no NULL-sim filter here: the _valid_vec construction filters make
    # NULL sims structurally impossible (the one residual class — an
    # Inf/Inf overflow cosine from ~1e154-magnitude components — ranks
    # NULLS LAST and can only surface when a query has fewer than k
    # finite candidates; a post-join filter would land in the join
    # condition and double the pair loop)
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", F.round(F.col("__sim"), 6).alias("sim"))
    )


@defop("ann-topk")
def op_ann_topk(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Exact brute-force cosine top-k. Query side is filtered + broadcast;
    the candidate scan is never shuffled. Batch-only: the op self-joins
    one relation (queries broadcast against the same corpus), which a
    stream can never close — refused at construction (r13; it used to
    surface as an opaque unsupported-operation failure at
    query.start()).

    Query-side guard (r15, completing the max_bucket_pairs family):
    the plan broadcasts EVERY query row to every executor and scores
    queries x corpus pairs — a too-loose ``queries`` filter turns that
    into a driver/executor OOM (the broadcast materializes on the
    driver) plus an unplanned corpus quadratic, surfacing as an opaque
    broadcast-size abort mid-job. Construction therefore counts the
    filtered query side (one cheap column-pruned agg, batch-only op)
    and REFUSES curatedly over ``max_query_rows`` (default 100_000 —
    64-dim doubles put that at ~55 MB broadcast, the order of Spark's
    own autoBroadcastJoinThreshold headroom). Levers: narrow the
    ``queries`` filter, switch to the bucketed ann-lsh-topk /
    ann-ivf-topk scale paths (both sides shuffled, no broadcast), or
    ``{'max_query_rows': 0}`` to absorb the broadcast knowingly.
    Decisions are unchanged whenever the guard passes.

    Laziness contract (the ann-lsh-topk r13 precedent): with the guard
    enabled (the default), construction runs ONE eager Spark job — the
    bounded ``limit(max+1).count()`` on the query projection — so the
    error surfaces at build time, not first action; ``{'max_query_rows':
    0}`` restores fully lazy construction."""
    from ..errors import ArityError, TypeDispatchError

    if rel.df.isStreaming:
        raise TypeDispatchError(
            "ann-topk self-joins the corpus (broadcast/candidate sides of one "
            "relation) and is batch-only; score a STREAM against a static "
            "corpus with semdedup-join or lsh-join instead"
        )
    opts = _opts(rest)
    idc, vecc = opts.get("id", "vec_id"), opts.get("vec", "embedding")
    k = int_opt(opts, "k", "ann-topk", 3)
    dim = _pos_int_opt(opts, "dim", "ann-topk")
    # degenerate rows (zero-norm / NaN / short / NULL vectors) have no
    # cosine: excluded on BOTH sides at construction (r13 — "match
    # nothing", the same envelope as assignment's NULL cluster; changes
    # zero output rows for valid corpora and keeps one bad vector from
    # aborting the whole job under ANSI — see _valid_vec)
    prepared = _prepared(rel, idc, vecc, dim).filter(_valid_vec(F.col("__v"), dim))
    q = prepared.filter(F.expr(_req(opts, "queries", "ann-topk"))).select(
        F.col(idc).alias("q_id"), F.col("__v").alias("__qv"), F.col("__n").alias("__qn")
    )
    # shared nonneg parse (ADVICE r15): None reads the default, 0
    # disables, bools/fractional floats refuse rather than reinterpret
    max_q = int_opt(opts, "max_query_rows", "ann-topk", 100_000, lo=0)
    if max_q:
        # the docstring's query-side guard: limit(max+1) bounds the
        # guard's own work — it proves "over the cap" without counting
        # the full query side (the semdedup max_k contract)
        nq = q.limit(max_q + 1).count()
        if nq > max_q:
            raise ArityError(
                f"ann-topk: the 'queries' filter matches more than "
                f"{max_q} rows — every query row is BROADCAST to every "
                "executor and scored against the whole corpus, so a "
                "loose filter is a driver-memory abort plus an unplanned "
                "corpus quadratic. Narrow the 'queries' filter, use the "
                "bucketed ann-lsh-topk / ann-ivf-topk scale paths, or "
                "set {'max_query_rows': n} (0 disables) to absorb the "
                "broadcast knowingly"
            )
    c = _spread(prepared).select(
        F.col(idc).alias("n_id"), F.col("__v").alias("__cv"), F.col("__n").alias("__cn")
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn("__sim", _pair_sim(
            dot_col(F.col("__qv"), F.col("__cv"), dim),
            F.col("__qn") * F.col("__cn"),
        ))
    )
    return KStreamRel(_topk(pairs, k), key_cols=("q_id", "rank"))


@defop("ann-lsh-topk")
def op_ann_lsh_topk(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Approximate cosine top-k: candidates restricted to the query's
    sign-hash bucket. Equi-join shuffle on the bucket key — the scale path
    (each query touches ~N/2^dims candidates, not N).

    {'bands': b} (late r13) — OR-construction banding, the standard LSH
    recall lever: band j hashes coordinates [j*sign_dims,
    (j+1)*sign_dims) and a pair is a candidate if it co-buckets in ANY
    band. Single-band recall on unclustered data decays as
    (1-theta/pi)^sign_dims (measured at its theory floor by the
    late-r13 recall probe: 0.01 at dims=8 on uniform vectors);
    banding lifts it to 1-(1-p^r)^b at b x the candidate volume.
    Requires dim >= bands*sign_dims (disjoint slices). bands=1
    (default) is bit-compatible with every pre-bands release. Shape:
    explode b bucket keys per vector -> same equi-join -> hash-agg
    dedupe on the pair key before ranking.

    Hot-bucket guard (r13, the neardup max_block_pairs precedent): the
    bucket join prunes pair work only while 2^sign_dims keeps pace with
    the corpus — the r13 vector-axis probe measured the exponent
    climbing (0.28 -> 0.74 on the 30x step at FIXED dims=8) because a
    constant dims only divides the quadratic by a constant, and all of
    one bucket's query x candidate pairs land on ONE join key (one
    task). Construction therefore counts the hottest bucket's
    candidates x queries product (one cheap agg, batch-only op) and
    REFUSES curatedly when it exceeds ``max_bucket_pairs`` (default
    1e8). The levers are a larger ``sign_dims`` (each +1 halves bucket
    population — and the probe measured dims grown as log2(N/8) both
    flattens the axis, exp 0.14/0.42, AND runs 1.5x faster absolute),
    a narrower ``queries`` filter, or ``{'max_bucket_pairs': 0}`` to
    absorb the work knowingly. Decisions are unchanged whenever the
    guard passes.

    Laziness contract (r13 BREAKING, noted r14): with the guard
    enabled (the default), construction runs ONE eager Spark job — the
    bucket-key count — so errors surface at build time, not first
    action, and the prepared projection is scanned once for the guard
    and once for the real join (two column-pruned scans; cheaper at
    scale than materializing the projection). ``{'max_bucket_pairs':
    0}`` restores fully lazy construction."""
    from ..errors import ArityError, TypeDispatchError

    if rel.df.isStreaming:
        raise TypeDispatchError(
            "ann-lsh-topk self-joins the corpus (broadcast/candidate sides of one "
            "relation) and is batch-only; score a STREAM against a static "
            "corpus with semdedup-join or lsh-join instead"
        )
    opts = _opts(rest)
    idc, vecc = opts.get("id", "vec_id"), opts.get("vec", "embedding")
    k = int_opt(opts, "k", "ann-lsh-topk", 3)
    dims = _pos_int_opt(opts, "sign_dims", "ann-lsh-topk", default=8)
    dim = _pos_int_opt(opts, "dim", "ann-lsh-topk")
    bands = _pos_int_opt(opts, "bands", "ann-lsh-topk", default=1)
    v = F.col(vecc).cast("array<double>")
    # degenerate rows excluded at construction (the ann-topk r13
    # envelope — see _valid_vec)
    if bands == 1:
        # single-band path, bit-compatible with every pre-bands release
        # (the registry oracle's shape)
        prepared = rel.df.select(
            F.col(idc),
            v.alias("__v"),
            norm_col(v, dim).alias("__n"),
            sign_bucket_col(F.col(vecc), dims).alias("__bucket"),
        ).filter(_valid_vec(F.col("__v"), dim))
    else:
        if not dim:
            raise ArityError(
                "ann-lsh-topk with bands > 1 needs {'dim': n} — band j "
                "reads coordinates [j*sign_dims, (j+1)*sign_dims) and the "
                "layout must be validated against the vector width"
            )
        if bands * dims > dim:
            raise ArityError(
                f"ann-lsh-topk: bands x sign_dims = {bands}x{dims} = "
                f"{bands * dims} exceeds dim={dim} — bands read DISJOINT "
                "coordinate slices; lower bands or sign_dims"
            )
        prepared = (
            rel.df.select(
                F.col(idc),
                v.alias("__v"),
                norm_col(v, dim).alias("__n"),
                _band_buckets(F.col(vecc), dims, bands).alias("__bkts"),
            )
            .filter(_valid_vec(F.col("__v"), dim))
            .select(
                F.col(idc), "__v", "__n", F.explode("__bkts").alias("__bucket")
            )
        )
    qpred = F.expr(_req(opts, "queries", "ann-lsh-topk"))
    q = prepared.filter(qpred).select(
        F.col(idc).alias("q_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
        "__bucket",
    )
    # shared nonneg parse (ADVICE r15): None reads the default, 0
    # disables, bools/fractional floats refuse rather than reinterpret
    max_pairs = int_opt(opts, "max_bucket_pairs", "ann-lsh-topk",
                        100_000_000, lo=0)
    if max_pairs:
        # the docstring's hot-bucket guard: one bucket-key agg at
        # construction; a bucket's query x candidate pairs land on ONE
        # join key, so the product is also the single-task work bound
        hot = (
            prepared.groupBy("__bucket")
            .agg(
                F.count(F.lit(1)).alias("__c"),
                F.count(F.when(qpred, F.lit(1))).alias("__q"),
            )
            # double product: a long x long product overflows (ANSI
            # abort) at ~3e9 x 3e9 — plausible bucket sizes at corpus
            # scale, and the guard must never be the thing that aborts
            .withColumn("__w", F.col("__c").cast("double") * F.col("__q"))
            .orderBy(F.col("__w").desc())
            .limit(1)
            .collect()
        )
        est = int(hot[0]["__w"]) if hot else 0
        if est > max_pairs:
            raise ArityError(
                f"ann-lsh-topk: bucket {hot[0]['__bucket']!r} has "
                f"{hot[0]['__c']} candidates x {hot[0]['__q']} queries = "
                f"{est} pairs on one join key, over max_bucket_pairs="
                f"{max_pairs}. A fixed sign_dims only divides the corpus "
                "quadratic by a constant; raise {'sign_dims': d} (each +1 "
                "halves bucket population), narrow the 'queries' filter, "
                "or set {'max_bucket_pairs': n} (0 disables) to absorb "
                "the quadratic work knowingly"
            )
    # single band: no _spread — the bucket join prunes candidates to
    # ~N/2^dims per query, so per-split work is already small and an
    # extra exchange costs more than the parallelism buys (measured at
    # sf0.1: 1.8s -> 3.8s). Banded: SPREAD — the OR-construction
    # multiplies pair work by b (and coarser per-band buckets multiply
    # it further), and with the query side broadcast all of it lands on
    # the scan's few splits; measured on the 30x vector axis the
    # un-spread banded plan ground one task for minutes while 31 cores
    # idled. At 100 TB the spread condition never fires (the scan
    # already has thousands of splits) — it exists for exactly this
    # small-file/large-work shape.
    csrc = _spread(prepared) if bands > 1 else prepared
    c = csrc.select(
        F.col(idc).alias("n_id"),
        F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"),
        "__bucket",
    )
    pairs = (
        c.join(F.broadcast(q), "__bucket", "inner")
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn("__sim", _pair_sim(
            dot_col(F.col("__qv"), F.col("__cv"), dim),
            F.col("__qn") * F.col("__cn"),
        ))
    )
    if bands > 1:
        # a pair sharing several band buckets joins once per shared
        # band — dedupe before ranking or it occupies several top-k
        # slots. One hash agg on the pair key; the per-band sims are
        # bit-identical (same vectors, same expression), max is the
        # deterministic pick. Scoring before the dedupe re-computes the
        # dot for multi-shared pairs, but carrying vectors THROUGH a
        # pair-key shuffle to score after costs more than the rare
        # duplicate dot (bands are discriminative by construction).
        pairs = pairs.groupBy("q_id", "n_id").agg(F.max("__sim").alias("__sim"))
    return KStreamRel(_topk(pairs, k), key_cols=("q_id", "rank"))


@defop("ann-ivf-topk")
def op_ann_ivf_topk(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """IVF-style approximate cosine top-k:

        ["ann-ivf-topk", rel, {"id", "vec", "k", "dim", "queries",
                               "centroids": <filter expr>, "nprobe": 2}]

    1. centroids = deterministically sampled rows (the ``centroids``
       filter) — or, r12, a centroid RELATION operand
       (``["ann-ivf-topk", rel, kmeans_output, {...}]``), so a k-means
       refinement genuinely drops in: (cluster, centroid) by default,
       any shape via {'centroid_id'/'centroid_vec': col};
    2. every vector is assigned to its nearest centroid — broadcast join
       against the (tiny) centroid set, argmax by (sim, centroid id);
    3. each query probes its ``nprobe`` nearest clusters and ranks only
       those candidates.

    Scale shape: assignment is a broadcast nested-to-hash join + hash
    aggregation (no shuffle of the big side beyond the cluster-keyed
    candidate join); each query touches ~nprobe/K of the data. This is the
    100 TB inverted-file layout — on a real deployment the assignment
    output is written bucketed by cluster id so probes prune partitions.

    Assignment path (r12) + {'max_k': n}: the expr assignment pays K
    codegen dots per row, and with the centroid sample growing with the
    corpus that branch is N x K — the r12 vector-axis probe measured
    this op superlinear (exp 1.56 on the 30x step) on exactly it. At
    K >= 257 (with a fixed 'dim') the op switches to the bit-exact BLAS
    argmax pick (the kmeans-assign machinery; see its docstring), which
    also removes the expr plan's corpus-wide argmax groupBy shuffle;
    the over-max_k centroid guard applies on every path."""
    from pyspark.sql import Window

    opts = _opts(rest)
    idc, vecc = opts.get("id", "vec_id"), opts.get("vec", "embedding")
    k = int_opt(opts, "k", "ann-ivf-topk", 3)
    dim = _pos_int_opt(opts, "dim", "ann-ivf-topk")
    nprobe = int_opt(opts, "nprobe", "ann-ivf-topk", 2)
    from ..errors import ArityError, TypeDispatchError

    if rel.df.isStreaming:
        # r13: the centroid collect below would otherwise surface this
        # as a raw AnalysisException mid-construction
        raise TypeDispatchError(
            "ann-ivf-topk self-joins the corpus (assignment + probe sides "
            "of one relation) and is batch-only; score a STREAM against a "
            "static corpus with semdedup-join or lsh-join instead"
        )
    max_k = _assign_max_k(opts, "ann-ivf-topk")
    cents_rel = next((r for r in rest if isinstance(r, Rel)), None)
    if cents_rel is not None and (opts.get("centroids") or opts.get("init")):
        raise ArityError(
            "ann-ivf-topk takes EITHER a centroid relation operand OR "
            "{'centroids': <filter expr>}, not both"
        )
    # spread ONLY the assignment branch below — spreading `prepared`
    # itself puts an exchange in front of every branch (centroids, query
    # probe) and measured slower; round-robin exchanges are not reused
    # across branches
    prepared = _prepared(rel, idc, vecc, dim)

    cents = (
        _cents_of_rel(cents_rel, opts, "ann-ivf-topk", dim)
        if cents_rel is not None
        else prepared.filter(
            F.expr(_req(opts, "centroids", "ann-ivf-topk"))
        ).select(
            F.col(idc).alias("__cid"), F.col("__v").alias("__cv"),
            F.col("__n").alias("__cn"),
        )
    )
    # centroid-cardinality guard + blas/auto decision (r12, the
    # kmeans-assign contract — see its docstring): the K-per-row codegen
    # fan-out below is N x K work, superlinear when the centroid sample
    # grows with the corpus (the r12 vector-axis probe measured exactly
    # this row at exp 1.56 on the 30x step; blas re-measured it at ~N)
    init_rows = cents.limit(max_k + 1).collect()
    if not init_rows:
        raise ArityError(
            "ann-ivf-topk: centroids filter matched no rows"
        )
    if len(init_rows) > max_k:
        raise ArityError(
            "ann-ivf-topk: centroids filter matched more than "
            f"max_k={max_k} rows — sample sparser or raise {{'max_k': n}}"
        )
    use_blas = _use_blas_assign(dim, init_rows)
    assign = None
    if use_blas:
        # cluster ids come from the CENTROID side (a relation operand
        # may carry a different id type than the corpus key)
        cid_type = next(
            f.dataType for f in cents.schema.fields if f.name == "__cid"
        )
        udf = _blas_assign_udf(ctx, cid_type, init_rows, int(dim))
        if udf is not None:
            # per-row pick, no groupBy: the expr plan's argmax agg
            # shuffles the corpus (vectors included) once — the UDF pick
            # keeps assignment exchange-free; NULL picks (degenerate
            # vectors) drop here exactly as NULL clusters never match
            # the candidate equi-join below
            assign = (
                _spread(prepared)
                .withColumn("__cluster", udf(F.col("__v")))
                .filter(F.col("__cluster").isNotNull())
            )
    if assign is None:
        # nearest centroid per vector: argmax by (sim, then smallest
        # cid); the K-way fan-out against broadcast centroids is the
        # heavy branch, so a single-split source is spread across cores
        # first
        scored = _spread(prepared).crossJoin(F.broadcast(cents)).withColumn("__csim", _centroid_sim(dim))
        assign = scored.groupBy(idc).agg(
            F.first("__v").alias("__v"),  # constant within the group
            F.first("__n").alias("__n"),
            F.min_by(F.col("__cid"), _nearest_order()).alias("__cluster"),
        )

    # queries probe their nprobe nearest clusters; zero-norm queries
    # have no cosine against anything — excluded at construction (r13),
    # which also makes the expr and blas probes agree trivially on
    # degenerate queries (they used to probe DIFFERENT fallback
    # cluster sets, a silent out-of-envelope divergence — ADVICE r12)
    qsrc = (
        prepared.filter(F.expr(_req(opts, "queries", "ann-ivf-topk")))
        .filter(_valid_vec(F.col("__v"), dim))
        .select(
            F.col(idc).alias("q_id"), F.col("__v").alias("__qv"),
            F.col("__n").alias("__qn"),
        )
    )
    qprobe = None
    if use_blas:
        # query-side twin of the blas assignment (r12): the expr probe
        # below pays K codegen dots per QUERY — the next N x K term
        # when the query set grows with the corpus (a full self-top-k).
        # One matmul + stable top-nprobe per Arrow batch, candidate-set
        # exact (see _blas_probe_udf); also drops the per-query
        # row_number window.
        probe_udf = _blas_probe_udf(
            ctx,
            next(f.dataType for f in cents.schema.fields if f.name == "__cid"),
            init_rows, int(dim), nprobe,
        )
        if probe_udf is not None:
            qprobe = (
                qsrc.withColumn("__cluster", F.explode(probe_udf(F.col("__qv"))))
                .select("q_id", "__qv", "__qn", "__cluster")
            )
    if qprobe is None:
        qw = Window.partitionBy("q_id").orderBy(
            F.col("__csim").desc(), F.col("__cid").asc()
        )
        # guarded cosine (r12 fix, the _centroid_sim rationale applied
        # to the probe branch): the raw division failed the job on a
        # zero-norm centroid (ANSI DIVIDE_BY_ZERO) and let a NaN
        # centroid rank FIRST for every query under Spark's NaN
        # ordering, hijacking all probes — NULL sims rank last instead,
        # so degenerate centroids are simply never probed.
        qden = F.col("__qn") * F.col("__cn")
        qsim = F.nanvl(
            F.when(qden > 0, dot_col(F.col("__qv"), F.col("__cv"), dim) / qden),
            F.lit(None).cast("double"),
        )
        qprobe = (
            qsrc.crossJoin(F.broadcast(cents))
            .withColumn("__csim", qsim)
            .withColumn("__pr", F.row_number().over(qw))
            .filter(F.col("__pr") <= nprobe)
            .select("q_id", "__qv", "__qn", F.col("__cid").alias("__cluster"))
        )

    cand = assign.select(
        F.col(idc).alias("n_id"), F.col("__v").alias("__cv2"),
        F.col("__n").alias("__cn2"), "__cluster",
    )
    pairs = (
        cand.join(F.broadcast(qprobe), "__cluster", "inner")
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn("__sim", _pair_sim(
            dot_col(F.col("__qv"), F.col("__cv2"), dim),
            F.col("__qn") * F.col("__cn2"),
        ))
    )
    return KStreamRel(_topk(pairs, k), key_cols=("q_id", "rank"))


@defop("neardup-pairs")
def op_neardup_pairs(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Embedding-cosine near-duplicate pairs (id_a < id_b) with similarity
    >= threshold, compared only within blocking groups (equi-join on the
    block key). Blocking is MANDATORY — an unblocked self-join is O(N²)
    and cannot survive scale. Three ways to block:

    * {"block": col} — a semantic blocking key (label, language, ...).
    * {"lsh_dims": d} — sign-LSH blocking: pairs compared only within the
      same sign-pattern bucket of the first d coordinates (reuses
      sign_bucket_col; approximate — a near-dup pair straddling one of
      the d hyperplanes is missed, the standard LSH recall trade).
      {"bands": b} (late r13) adds the OR-construction over it: band j
      hashes coordinates [j*lsh_dims, (j+1)*lsh_dims) and a pair is
      compared if it co-buckets in ANY band — at threshold 0.9 the
      per-coordinate sign agreement is ~0.86, so a single d=8 band
      finds only ~0.86^8 = 29% of true near-dups; banding lifts pair
      recall to 1-(1-p^d)^b (measured r13 on planted duplicates:
      0.89/0.985/1.0 at b=4/8/16) at ~b x the join volume. Requires
      dim >= bands*lsh_dims; bands=1 (default) is bit-compatible.
    * {"allow_full": true} — explicit opt-in to the full O(N²) self-join,
      for small relations only; omitting all three RAISES.

    Oversized-block guard (r13, the semdedup max_cluster_pairs
    precedent): blocking guarantees the pair join EXISTS, not that it
    is tractable — within a block the pair space is c²/2, and a
    CONSTANT-cardinality block key (a label column, a fixed lsh_dims)
    only divides the corpus quadratic by a constant. The r13
    vector-axis probe measured the registry shape at exp 1.78 on its
    30x step (1.6s -> 108s at 60k vectors, 4 semantic blocks) — at
    corpus scale a hot block silently absorbs quadratic work in one
    task. Construction therefore counts the largest block (one cheap
    block-key agg, batch only) and REFUSES curatedly when its estimated
    pair count exceeds ``max_block_pairs`` (default 1e8); the levers
    are a finer block key, a larger ``lsh_dims`` (each +1 halves bucket
    population), or raising/disabling the cap ({'max_block_pairs': 0}).
    Decisions are unchanged whenever the guard passes."""
    from ..errors import ArityError, TypeDispatchError

    if rel.df.isStreaming:
        raise TypeDispatchError(
            "neardup-pairs self-joins the corpus within blocks and is "
            "batch-only; score a STREAM against a static corpus with "
            "semdedup-join or lsh-join instead"
        )
    opts = _opts(rest)
    idc, vecc = opts.get("id", "vec_id"), opts.get("vec", "embedding")
    thr = float_opt(opts, "threshold", "neardup-pairs", 0.9)
    block = opts.get("block")
    dim = _pos_int_opt(opts, "dim", "neardup-pairs")
    bands = _pos_int_opt(opts, "bands", "neardup-pairs", default=1)
    v = F.col(vecc).cast("array<double>")
    # bands composes ONLY with sign-LSH bucketing: over a semantic
    # {'block': col} every within-block pair would just appear b times
    # (same bucket per band), and mixing block with lsh_dims has no
    # defined layout. Refuse both shapes up front (r14: the block +
    # lsh_dims + bands>1 combination previously fell through to an
    # UnboundLocalError on the banded branch).
    if bands > 1 and block:
        raise ArityError(
            "neardup-pairs: {'bands': b} is the OR-construction over "
            "{'lsh_dims': d} sign buckets and does not compose with a "
            "semantic {'block': col} (each band would emit the same "
            "block key, duplicating every within-block pair b times) — "
            "drop 'block' and pass {'lsh_dims': d, 'dim': n}, or set "
            "bands back to 1"
        )
    # opts_of already drops None-valued keys (explicit None = unset),
    # so not-None here equals key-present; a literal 0 still reaches
    # _pos_int_opt's curated >= 1 refusal below
    has_ldims = opts.get("lsh_dims") is not None
    if bands > 1 and not has_ldims:
        raise ArityError(
            "neardup-pairs: {'bands': b} is the OR-construction over "
            "{'lsh_dims': d} sign buckets — pass lsh_dims with it"
        )
    blockers = []
    if block:
        blockers = [F.col(block)]
    elif has_ldims:
        block = "__bucket"
        ldims = _pos_int_opt(opts, "lsh_dims", "neardup-pairs")
        if bands == 1:
            if thr >= 0.8 and not opts.get("single_band_ok"):
                # loud-at-construction (r14, the lsh-join unbounded_ok
                # precedent): single-band sign-LSH blocking is the
                # engine's one SILENT recall cliff — the r13 probe
                # measured recall 0.42 at lsh_dims=8, threshold=0.9 on
                # clustered data (the (1-theta/pi)^d AND-construction
                # floor), i.e. a dedup pipeline silently KEEPS most
                # true near-dups. Every sibling approximation either
                # has a recall lever on by default or refuses.
                import warnings

                warnings.warn(
                    f"neardup-pairs: single-band sign-LSH blocking "
                    f"(lsh_dims={ldims}, bands=1) at threshold={thr} "
                    "finds only a fraction of true near-duplicates — "
                    "measured recall 0.42 at lsh_dims=8, threshold=0.9 "
                    "(r13 recall probe; the (1-theta/pi)^d "
                    "floor). Raise recall with the OR-construction "
                    "{'bands': b, 'dim': n} (measured 0.89/0.985/1.0 at "
                    "b=4/8/16), or acknowledge single-band blocking "
                    "with {'single_band_ok': True}.",
                    # UserWarning, not the codebase's ResourceWarning
                    # (ADVICE r14): Python's DEFAULT filters ignore
                    # ResourceWarning, so the sole lever for a
                    # silent-WRONG-RESULTS outcome was itself silent in
                    # a plain spark-submit run. Recall-cliff warnings
                    # (wrong results) use UserWarning; state/size
                    # warnings (slow, not wrong) stay ResourceWarning.
                    UserWarning,
                    stacklevel=3,
                )
            blockers = [sign_bucket_col(v, ldims).alias("__bucket")]
        else:
            if not dim:
                raise ArityError(
                    "neardup-pairs with bands > 1 needs {'dim': n} — band "
                    "j reads coordinates [j*lsh_dims, (j+1)*lsh_dims) and "
                    "the layout must be validated against the vector width"
                )
            if bands * ldims > dim:
                raise ArityError(
                    f"neardup-pairs: bands x lsh_dims = {bands}x{ldims} = "
                    f"{bands * ldims} exceeds dim={dim} — bands read "
                    "DISJOINT coordinate slices; lower bands or lsh_dims"
                )
    elif not opts.get("allow_full"):
        raise ArityError(
            "neardup-pairs without blocking is an O(N^2) all-pairs self-join; "
            "pass {'block': col}, {'lsh_dims': d} (sign-LSH buckets), or "
            "{'allow_full': true} to opt in for small data"
        )
    # zero-norm rows excluded at construction (the ann-topk r13
    # envelope: no cosine, match nothing — and never abort the job)
    if bands > 1:
        # norm chain + validity BEFORE the band explode: in one select
        # with the generator they would re-evaluate per band-row (b x
        # the dim-unrolled chain per vector)
        prepared = (
            rel.df.select(
                F.col(idc),
                v.alias("__v"),
                norm_col(v, dim).alias("__n"),
                _band_buckets(v, ldims, bands).alias("__bkts"),
            )
            .filter(_valid_vec(F.col("__v"), dim))
            .select(
                F.col(idc), F.explode("__bkts").alias("__bucket"), "__v", "__n"
            )
        )
    else:
        prepared = rel.df.select(
            F.col(idc),
            *blockers,
            v.alias("__v"),
            norm_col(v, dim).alias("__n"),
        ).filter(_valid_vec(F.col("__v"), dim))

    # 0 disables the guard; negatives refuse (shared nonneg contract)
    max_pairs = int_opt(opts, "max_block_pairs", "neardup-pairs",
                        100_000_000, lo=0)
    if max_pairs and not rel.df.isStreaming:
        # the docstring's oversized-block guard: one block-key count at
        # construction; a block's pairs land on ONE join key, so the
        # estimate is also the single-task work bound
        if block:
            hot = (
                prepared.groupBy(block)
                .agg(F.count(F.lit(1)).alias("__c"))
                .orderBy(F.col("__c").desc())
                .limit(1)
                .collect()
            )
            c = hot[0]["__c"] if hot else 0
            where = f"block {hot[0][block]!r}" if hot else ""
        else:  # allow_full: the whole relation is one block
            c = prepared.count()
            where = "the unblocked relation"
        est = c * (c - 1) // 2
        if est > max_pairs:
            raise ArityError(
                f"neardup-pairs: {where} has {c} rows — an estimated "
                f"{est} within-block pairs, over max_block_pairs="
                f"{max_pairs}. A constant-cardinality block only divides "
                "the corpus quadratic by a constant; use a finer "
                "{'block': col}, raise {'lsh_dims': d} (each +1 halves "
                "bucket population), or set {'max_block_pairs': n} "
                "(0 disables) to absorb the quadratic work knowingly"
            )
    from .util import source_bytes

    spread = _spread(prepared)
    nbytes = source_bytes(rel.df)
    # "small" needs BOTH signals: few source files (spread fired) AND a
    # known on-disk size under the broadcast threshold — file count alone
    # says nothing (8 files of 4 GB would OOM a forced broadcast)
    try:
        bcast_limit = int(
            rel.df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except (TypeError, ValueError):
        bcast_limit = 10 * 1024 * 1024
    small = (
        spread is not prepared and nbytes is not None and 0 < nbytes < bcast_limit
    )
    if bands > 1:
        # the exploded side is bands x the source bytes the heuristic
        # measured — don't pin a broadcast off an underestimate; let
        # Catalyst/AQE judge the real exchange sizes
        small = False
    a = spread.alias("a")
    # when the relation fits in a broadcast, pin the broadcast DIRECTION:
    # Catalyst sees two equal-size sides and may broadcast the spread one,
    # streaming the 1-split side single-threaded. At scale (no spread)
    # the blocked sort-merge self-join is the right plan — leave it alone.
    b = (F.broadcast(prepared) if small else prepared).alias("b")
    cond = F.col(f"a.{idc}") < F.col(f"b.{idc}")
    if block:
        cond = (F.col(f"a.{block}") == F.col(f"b.{block}")) & cond
    # guarded (r13): a NaN-component pair yields NULL (fails >= thr)
    # instead of NaN (which passes >= thr under Spark's NaN ordering,
    # silently marking the row a duplicate)
    sim = _pair_sim(
        dot_col(F.col("a.__v"), F.col("b.__v"), dim),
        F.col("a.__n") * F.col("b.__n"),
    )
    pairs = (
        a.join(b, cond, "inner")
        .select(
            F.col(f"a.{idc}").alias("id_a"),
            F.col(f"b.{idc}").alias("id_b"),
            F.round(sim, 6).alias("sim"),
        )
        .filter(F.col("sim") >= thr)
    )
    if bands > 1:
        # a pair co-bucketing in several bands joins once per shared
        # band — dedupe on the pair key (per-band sims are bit-identical;
        # max is the deterministic pick). After the threshold filter, so
        # only surviving near-dups pay the agg.
        pairs = pairs.groupBy("id_a", "id_b").agg(F.max("sim").alias("sim"))
    return KStreamRel(pairs, key_cols=("id_a", "id_b"))


@defop("vec-quantize")
def op_vec_quantize(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Symmetric int8 quantization of an embedding column:

        ["vec-quantize", rel, {"vec": "embedding", "dim": 64,
                               "as": "q", "scale_as": "q_scale"}]

    q_i = floor(x_i * 127 / max|x| + 0.5) (round-half-up, identical in
    Spark and DuckDB — no banker's-rounding divergence), scale =
    max|x| / 127, so x ~ q * scale. 4x memory shrink for the candidate-
    generation side of ANN at corpus scale (generate on int8, re-rank
    exact on floats). Zero vectors quantize to all-zero with scale 0.

    With a known dim the max and the quantized array are UNROLLED
    F.get chains (whole-stage codegen); without it, higher-order
    transform/array_max (interpreted — fine off the hot path). The max
    is MATERIALIZED as its own projection first: inlining it into each
    of the dim quantize terms repeats the 2·dim-op greatest chain per
    element (measured 2x slower at sf0.1 — subexpression elimination
    does not collapse it across array entries). NOT spread: on the
    single-split testdata the extra exchange measured slower (1.8s vs
    1.5s at sf0.1) than just running the narrow projection in place."""
    opts = _opts(rest)
    vecc = opts.get("vec", "embedding")
    dim = _pos_int_opt(opts, "dim", "vec-quantize")
    out = opts.get("as", "q")
    scale_as = opts.get("scale_as", "q_scale")
    v = F.col(vecc).cast("array<double>")
    if dim:
        # size guard (r13): a shorter-than-dim vector previously ABORTED
        # the job (ANSI INVALID_ARRAY_INDEX in the unrolled chain); with
        # F.get it would instead quantize PARTIALLY (greatest skips the
        # NULL elements) — both wrong. NULL the max, so q and scale go
        # NULL for the whole row, the same whole-column-NULL contract as
        # vec-project.
        mx_expr = F.when(
            v.isNotNull() & (F.size(v) >= int(dim)),
            F.greatest(*[F.abs(F.get(v, i)) for i in range(int(dim))]),
        )
    else:
        mx_expr = F.array_max(F.transform(v, lambda x: F.abs(x)))
    staged = rel.df.withColumn("__mx", mx_expr)
    mx = F.col("__mx")
    if dim:
        q = F.when(mx.isNotNull(), F.array(*[
            F.when(mx > 0, F.floor(F.get(v, i) * 127 / mx + F.lit(0.5)))
            .otherwise(F.lit(0)).cast("int")
            for i in range(int(dim))
        ]))
    else:
        q = F.transform(
            v,
            lambda x: F.when(mx > 0, F.floor(x * 127 / mx + F.lit(0.5)))
            .otherwise(F.lit(0)).cast("int"),
        )
    df = (
        staged.withColumn(out, q)
        .withColumn(scale_as, mx / F.lit(127.0))
        .drop("__mx")
    )
    return rel.with_df(df)


@defop("kmeans-assign")
def op_kmeans_assign(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Closed-form nearest-centroid assignment — the "assign" half of a
    Lloyd round, exposed on its own so the k-means path has a
    SQL-oracle-able component (the iterated centroids stay rows-only):

        ["kmeans-assign", rel, {"id": "vec_id", "vec": "embedding",
                                "dim": 64, "centroids": "vec_id % 127 = 3"}]

        ["kmeans-assign", rel, centroid_table, {"id": ..., "dim": 64}]
        -> r12: the centroid set can be a RELATION operand instead of a
           corpus filter — kmeans-centroids output (cluster, centroid)
           by default, any relation via {'centroid_id'/'centroid_vec':
           col}. This closes the refine->assign composition (and the
           train-once / assign-many pattern: persist the centroid
           table, assign every new corpus against it). Bit-identical
           to the filter path on the same rows (pinned by test).

    Assigns every vector to its nearest ``centroids``-sampled row by
    cosine (ties → smallest centroid id; numeric OR string ids) and
    returns (id, cluster, sim). Zero-norm vectors get (cluster NULL,
    sim NULL) — cosine is undefined for them — and zero-norm centroids
    are skipped; filter `sim IS NULL` downstream to audit such rows.
    This is also exactly the partition-assignment
    step a bucketed IVF table build runs at 100 TB scale: one broadcast
    of K centroids, one codegen fan-out + hash-agg argmax, no shuffle of
    the corpus side.

    Assignment path (r12): the codegen crossJoin fan-out pays K
    unrolled dots per row — with K itself growing with the corpus (the
    %127-style sampling), assignment work is N x K and the r12
    vector-axis probe measured ann-ivf superlinear on exactly this
    branch. At K >= 257 (with a fixed 'dim') the op collects the
    bounded centroid set (``max_k`` guard, default 65536 — the
    kmeans-centroids contract) and assigns with one BLAS matmul +
    argmax per Arrow batch, bit-exact to the expr plan via the
    semdedup-join near-tie machinery (sequential-dot re-decision within
    a 1e-9 cosine gap; see _blas_assign_udf), then recomputes `sim`
    against the PICKED centroid with the identical codegen dot
    expression — one dot per row instead of K, and no corpus shuffle
    (the expr plan's argmax groupBy exchanges the corpus once).
    Small-K corpora stay on the oracle-reference expr plan. One
    observable difference under MALFORMED input: duplicate ids collapse to one
    output row on the expr plan (groupBy) but flow through per-row on
    blas — unique ids are the op's key contract. A centroid filter
    matching more than ``max_k`` rows is refused loudly on every path
    (r12; previously the expr broadcast absorbed it silently)."""
    from ..errors import ArityError

    opts = _opts(rest)
    idc, vecc = opts.get("id", "vec_id"), opts.get("vec", "embedding")
    dim = _pos_int_opt(opts, "dim", "kmeans-assign")
    init = opts.get("centroids") or opts.get("init")
    cents_rel = next((r for r in rest if isinstance(r, Rel)), None)
    if cents_rel is not None and init:
        raise ArityError(
            "kmeans-assign takes EITHER a centroid relation operand OR "
            "{'centroids': <filter expr>}, not both"
        )
    if not init and cents_rel is None:
        raise ArityError(
            "kmeans-assign needs {'centroids': <filter expr>} or a "
            "centroid relation operand (e.g. kmeans-centroids output)"
        )
    src_desc = f"filter {init!r}" if cents_rel is None else "relation"
    max_k = _assign_max_k(opts, "kmeans-assign")
    # internal (r18, the semdedup scan-share): carry the prepared vector
    # and norm through the assignment so a caller that needs them (the
    # semdedup rank window + pair join) does not re-scan the corpus and
    # join back on the id. Within a group every row shares one (__v,
    # __n) — first() is exact. Public output is unchanged without it.
    # Carrying also pins the expr plan: the caller joins the result
    # back on the id, and the expr argmax's groupBy leaves its output
    # hash-partitioned by exactly that key, so the join adds no
    # exchange; the blas pick would re-shuffle and pay the Arrow pass
    # for nothing (measured at 60k x K=472: expr ~5.5-6.2s in-op vs
    # blas ~8.6-12s). Standalone assignment keeps the K cutover, where
    # blas wins 3x.
    carry = bool(opts.get("_carry_vec"))
    if rel.df.isStreaming:
        raise ArityError(
            "kmeans-assign is batch-only (the empty-centroid probe and "
            "broadcast centroid set need a closed input); for streaming, "
            "assign against a PRE-BUILT centroid table via join-global"
        )

    prepared = _prepared(rel, idc, vecc, dim)
    cents = (
        _cents_of_rel(cents_rel, opts, "kmeans-assign", dim)
        if cents_rel is not None
        else prepared.filter(F.expr(init)).select(
            F.col(idc).alias("__cid"), F.col("__v").alias("__cv"),
            F.col("__n").alias("__cn"),
        )
    )
    # fail loudly, not with a silently-empty assignment — and guard the
    # centroid cardinality on every path: the K+1-capped collect (K rows
    # of bounded driver state, the kmeans-centroids contract) also feeds
    # the blas/auto decision
    init_rows = cents.limit(max_k + 1).collect()
    if not init_rows:
        raise ArityError(
            f"kmeans-assign: centroids {src_desc} matched no rows"
        )
    if len(init_rows) > max_k:
        raise ArityError(
            f"kmeans-assign: centroids {src_desc} matched more than "
            f"max_k={max_k} rows — sample sparser or raise {{'max_k': n}}"
        )
    if not carry and _use_blas_assign(dim, init_rows):
        # cluster ids come from the CENTROID side (a relation operand
        # may carry a different id type than the corpus key)
        cid_type = next(
            f.dataType for f in cents.schema.fields if f.name == "__cid"
        )
        udf = _blas_assign_udf(ctx, cid_type, init_rows, int(dim))
        if udf is not None:
            # sim recomputed against the PICKED centroid with the same
            # codegen expression the expr plan evaluates — bit-exact by
            # construction; a NULL cluster misses the broadcast join and
            # sim stays NULL (the degenerate/audit branch)
            picked = prepared.withColumn("cluster", udf(F.col("__v"))).join(
                F.broadcast(
                    cents.select(
                        F.col("__cid").alias("cluster"), "__cv", "__cn"
                    )
                ),
                "cluster",
                "left",
            )
            assigned = picked.select(
                F.col(idc), F.col("cluster"), _centroid_sim(dim).alias("sim")
            )
            return KStreamRel(assigned, key_cols=(idc,))
        # no usable centroid: the expr plan's all-NULL sims produce the
        # same all-NULL assignment — fall through
    # cluster = argmax sim (ties -> smallest centroid id, string-id
    # safe); sim = that max. A zero-norm vector gets (NULL, NULL) —
    # documented, instead of an ANSI DIVIDE_BY_ZERO job failure — and a
    # zero-norm centroid simply never wins.
    aggs = [
        F.min_by(F.col("__cid"), _nearest_order()).alias("cluster"),
        F.max("__csim").alias("sim"),
    ]
    if carry:
        aggs = [
            F.first("__v").alias("__v"), F.first("__n").alias("__n"),
        ] + aggs
    assigned = (
        _spread(prepared).crossJoin(F.broadcast(cents))
        .withColumn("__csim", _centroid_sim(dim))
        .groupBy(idc)
        .agg(*aggs)
    )
    return KStreamRel(assigned, key_cols=(idc,))


@defop("semdedup")
def op_semdedup(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column — cluster the corpus, then
    drop members whose cosine to an earlier-ranked cluster-mate reaches
    ``threshold``:

        ["semdedup", rel, {"id": "vec_id", "vec": "embedding", "dim": 64,
                           "centroids": "vec_id % 127 = 3",
                           "threshold": 0.9, "action": "annotate"}]

        ["semdedup", rel, centroid_table, {...}]  (r12)
        -> cluster against a centroid RELATION instead of a corpus
           filter — kmeans-centroids output drops in directly, closing
           the paper's refine-then-dedup loop (shape contract in
           kmeans-assign's docstring).

    Three stages, one logical plan (no iteration):

    1. Nearest-centroid assignment — the SAME expansion rule as
       kmeans-assign (op_kmeans_assign is invoked, not re-implemented):
       one broadcast of the K sampled centroids + a codegen argmax
       fan-out; the corpus side is never shuffled for this step.
    2. Members shuffle ONCE on ``cluster`` for a rank window ordered by
       (sim-to-centroid ASC, id ASC) — SemDeDup's diversity rule keeps
       the LEAST prototypical member of a duplicate group, so low
       centroid-sim ranks first and survives.
    3. The paper's non-iterative upper-triangular rule: member m is a
       semantic duplicate iff SOME earlier-ranked cluster-mate m' has
       cosine(m, m') >= threshold — m' counts even if m' was itself
       suppressed (suppression does not cascade), which is what makes
       the rule one pairwise join instead of a fixpoint. The ranked
       relation is computed ONCE and pinned (DISK_ONLY; see the inline
       note) — it feeds four plan branches — and the pair join's
       O(sum c_k^2 / K) cost is the paper's own
       within-cluster-matrix cost: at 100 TB you bound it by raising K
       (the paper's 0.1%-of-N regime keeps clusters ~1k rows), not by
       capping pairs — cluster size is a centroid-sampling knob, so the
       first-order skew relief lives in ``centroids``, and
       kmeans-centroids can refine the sample first. A mis-sized sample
       is also GUARDED: at construction one cheap agg over the pinned
       relation measures the largest cluster, and above
       ``max_cluster_pairs`` estimated within-cluster pairs (default
       1e8; 0 disables) the op refuses with a curated error naming the
       levers instead of silently absorbing quadratic work.
       ``{'hot_split': m}`` (default off) is the guard's built-in
       constructive alternative: over-cap clusters are sub-partitioned
       by a second nearest-centroid assignment against their own m
       lowest-id members (broadcast, deterministic, geometry-aware —
       exact duplicates always share a sub-cluster; a hash split would
       scatter them), the rank window and pair join key on
       (cluster, sub), and per-cluster pair work drops ~m-fold.
       Recall trade: near-dup pairs straddling sub-clusters are not
       compared, so the keep set can only GROW vs the unsplit decision
       (pinned by test); densifying ``centroids`` remains the lossless
       fix. The split is RE-CHECKED (r12): one agg over the already-
       pinned ranked relation re-measures the largest (cluster, sub)
       group, and a geometry the sub-centroids failed to spread (still
       over ``max_cluster_pairs``) emits a curated ResourceWarning
       naming the levers — the constructive path completes, but never
       absorbs the quadratic work silently. ``{'max_cluster_pairs': 0}``
       together with ``hot_split`` is refused at construction (the cap
       is the split's trigger, so the combination would do nothing).
       Defense in
       depth for when K is still wrong but under the guard: the join
       key is (cluster,
       rank-block of ``pair_bucket`` rows, default 128), so one hot
       cluster spreads its pairs over c/128 keys instead of one task
       (measured 42s -> ~20s on the degenerate all-in-one-cluster skew
       bench), and the pair cosine folds into a per-member max
       aggregate — not a join-predicate filter — so the unrolled dot
       chain stays in whole-stage codegen and map-side combine shrinks
       the fan-out to one row per member before the shuffle.

    Output: (id, cluster, sim_centroid, keep). Zero-norm / degenerate
    vectors arrive from kmeans-assign with cluster NULL and pass through
    as (cluster NULL, sim NULL, keep NULL) — flagged for audit, never
    silently kept or dropped. ``{"action": "filter"}`` returns only the
    keep rows (NULL-flagged rows drop with the duplicates).

    Cosines use the sequential unrolled dot chain (dot_col), so the
    threshold decision is bit-reproducible against DuckDB's
    list_dot_product — the oracle row pins keep/drop exactly.
    Batch-only, inherited from kmeans-assign's closed-input contract
    (stream refusal + empty-centroid probe happen there)."""
    from ..errors import ArityError

    opts = _opts(rest)
    idc, vecc = opts.get("id", "vec_id"), opts.get("vec", "embedding")
    dim = _pos_int_opt(opts, "dim", "semdedup")
    refuse_removed_opt(
        opts, "assign_impl", "semdedup",
        "semdedup assigns with the expression plan, whose groupBy already "
        "partitions by the id it joins on",
    )
    refuse_removed_opt(opts, "storage", "semdedup", STORAGE_REMOVED)
    thr = float_opt(opts, "threshold", "semdedup", 0.9)
    action = opts.get("action", "annotate")
    if action not in ("annotate", "filter"):
        raise ArityError(
            f"semdedup action must be 'annotate' or 'filter', got {action!r}"
        )

    cents = opts.get("centroids") or opts.get("init")
    cents_rel = next((r for r in rest if isinstance(r, Rel)), None)
    if cents_rel is not None and cents:
        raise ArityError(
            "semdedup takes EITHER a centroid relation operand OR "
            "{'centroids': <filter expr>}, not both"
        )
    if not cents and cents_rel is None:
        # raise under THIS op's name — delegating would surface
        # "kmeans-assign needs ..." for a form the user never wrote
        raise ArityError(
            "semdedup needs {'centroids': <filter expr>} or a centroid "
            "relation operand (e.g. kmeans-centroids output)"
        )
    assigned = op_kmeans_assign(
        ctx, rel, *(() if cents_rel is None else (cents_rel,)),
        {"id": idc, "vec": vecc, "dim": dim, "centroids": cents,
                   "max_k": opts.get("max_k", 65536),
                   "centroid_id": opts.get("centroid_id", "cluster"),
                   "centroid_vec": opts.get("centroid_vec", "centroid"),
                   # r18 scan-share (VERDICT r17 #9): the assignment agg
                   # carries (__v, __n) through, so the old second
                   # corpus scan (_prepared) + sort-merge join-back on
                   # the id is gone — one scan feeds the rank window.
                   # Carrying also keeps the expr plan (see
                   # kmeans-assign), whose groupBy partitions by `idc`
                   "_carry_vec": True}
    ).df
    members = assigned

    from pyspark.sql import Window

    # 0 disables either guard; negatives refuse (shared nonneg contract)
    max_pairs = int_opt(opts, "max_cluster_pairs", "semdedup",
                        100_000_000, lo=0)
    hot_split = int_opt(opts, "hot_split", "semdedup", 0, lo=0)
    if hot_split == 1:
        raise ArityError(
            f"semdedup hot_split must be an int >= 2 (0 disables), got "
            f"{hot_split}"
        )
    if hot_split and not max_pairs:
        # contradictory request (ADVICE r11): hot_split sub-partitions
        # the clusters max_cluster_pairs flags, so disabling the cap
        # while asking for the split would silently yield NEITHER
        raise ArityError(
            "semdedup {'max_cluster_pairs': 0} disables the oversized-"
            f"cluster check that {{'hot_split': {hot_split}}} acts on — "
            "the combination does nothing. Drop hot_split, or keep a "
            "positive max_cluster_pairs as the split trigger"
        )

    # {'hot_split': m} — the CONSTRUCTIVE alternative to the oversized-
    # cluster refusal below (the error's "recursive split" lever, built
    # in): clusters whose estimated pair count exceeds max_cluster_pairs
    # are sub-partitioned by a SECOND nearest-centroid assignment
    # against m sub-centroids sampled from inside each hot cluster (its
    # m lowest-id members — deterministic), and the rank window + pair
    # join then key on (cluster, sub). Geometry-aware by construction —
    # near-duplicates sit near each other, so they land in the same
    # sub-cluster with high probability, and EXACT duplicates always do
    # (identical vectors produce identical sub-sims and the same
    # min-struct pick) — unlike a hash split, which would scatter a dup
    # pair across subs with probability (m-1)/m. Work bound: a c-member
    # hot cluster's pair space drops from c^2/2 to ~c^2/(2m). Recall
    # trade (documented): a near-dup pair straddling two sub-clusters
    # is not compared — suppression can only shrink, never grow, so the
    # keep set is a superset of the unsplit decision (pinned by test);
    # the lossless fix remains densifying ``centroids``. The sub-
    # centroid relation is a broadcast of <= |hot clusters| x m rows,
    # never driver state. Output columns are unchanged (``cluster``
    # stays the original assignment). With no over-cap cluster the
    # plan is bit-identical to the default path.
    from .util import pin

    split_ids: list = []
    members_pin = None
    if hot_split and max_pairs:
        # Pin members BEFORE the hot_split branches (ADVICE r11): the
        # pre-check collect below plus the subc / sub_pick / join-back
        # branches are four consumers of the scan + centroid assignment
        # — unpinned, each re-ran the full corpus pass (3 extra scans at
        # 100 TB). The pre-check collect materializes the pin; it is
        # released as soon as the ranked pin below is materialized (or
        # immediately when no cluster is over the cap).
        members_pin = pin(members)
        members = members_pin
        pre = (
            members.filter(F.col("cluster").isNotNull())
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("__nm"))
            .filter(
                F.col("__nm") * (F.col("__nm") - 1) / 2 > F.lit(max_pairs)
            )
            .collect()
        )
        split_ids = [r["cluster"] for r in pre]
        if not split_ids:
            # nothing over the cap: drop the pin now — downstream is
            # then the default path (one derivation into the ranked pin)
            members_pin.unpersist(blocking=False)
            members_pin = None
    if split_ids:
        # the m-lowest-id pick runs row_number over each hot cluster —
        # one O(c log c) single-partition sort per hot cluster, paid
        # once and dwarfed by the c^2/(2m) pair work it prevents
        wsc = Window.partitionBy("cluster").orderBy(F.col(idc).asc())
        subc = (
            members.filter(F.col("cluster").isin(split_ids))
            .select("cluster", idc, "__v", "__n")
            .withColumn("__r", F.row_number().over(wsc))
            .filter(F.col("__r") <= hot_split)
            .select(
                F.col("cluster").alias("__scl"),
                (F.col("__r") - 1).alias("__sid"),
                F.col("__v").alias("__scv"),
                F.col("__n").alias("__scn"),
            )
        )
        sub_sim = dot_col(F.col("__v"), F.col("__scv"), dim) / (
            F.col("__n") * F.col("__scn")
        )
        sub_pick = (
            members.join(
                F.broadcast(subc), F.col("cluster") == F.col("__scl")
            )
            .groupBy(idc)
            .agg(
                F.min(
                    F.struct(
                        (-sub_sim).alias("s"), F.col("__sid").alias("b")
                    )
                ).alias("__pick")
            )
            .select(F.col(idc), F.col("__pick.b").alias("__sub"))
        )
        members = members.join(sub_pick, idc, "left").withColumn(
            "__sub", F.coalesce(F.col("__sub"), F.lit(0))
        )
    part_cols = ("cluster", "__sub") if split_ids else ("cluster",)

    # rank over ALL rows (the NULL-cluster stragglers form one ignored
    # window partition), then PIN once: the relation below feeds four
    # consumers (keep base, the earlier-ranked pair side, the dup-id
    # join-back, the degenerate passthrough) — unpinned, each branch
    # re-ran the full scan + centroid BNLJ + window shuffle (11 scans in
    # the audited plan). DISK_ONLY for the _pin_tokens reason: the
    # pinned rows carry the corpus vectors, which would thrash executor
    # storage memory at 100 TB.
    w = Window.partitionBy(*part_cols).orderBy(
        F.col("sim").asc(), F.col(idc).asc()
    )
    pinned = pin(members.withColumn("__rk", F.row_number().over(w)))
    ranked = pinned.filter(F.col("cluster").isNotNull())
    # Oversized-cluster guard (the cooccurrence-window-cap /
    # bpe-train-vocab-cap pattern: guard + loud, overridable error).
    # Rank-block bucketing spreads a hot cluster's pairs across tasks,
    # but the TOTAL O(c_max^2/2) cosine work is irreducible — at 100 TB
    # a too-sparse ``centroids`` sample (the paper's K knob) silently
    # concentrates quadratic work the user almost never intends. One
    # cheap agg over the pinned relation (which the real plan reuses —
    # the scan+assign is paid once either way) measures the largest
    # cluster at construction time; above ``max_cluster_pairs``
    # estimated pairs (default 1e8 ~= a 14k-member cluster, an order
    # above the paper's ~1k regime and two below catastrophe) the op
    # refuses with the levers. {'max_cluster_pairs': 0} disables;
    # raising the number is the explicit "I mean it" override, and
    # {'hot_split': m} (pre-checked above, which also skips this agg)
    # is the built-in constructive alternative.
    if max_pairs and not hot_split:
        top = (
            ranked.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("__n"))
            .orderBy(F.col("__n").desc())
            .limit(1)
            .collect()
        )
        if top:
            c_max, hot = top[0]["__n"], top[0]["cluster"]
            est = c_max * (c_max - 1) // 2
            if est > max_pairs:
                pinned.unpersist()
                raise ArityError(
                    f"semdedup: largest cluster {hot!r} has {c_max} members "
                    f"(~{est} within-cluster pairs > max_cluster_pairs="
                    f"{max_pairs}) — the centroids sample is too sparse for "
                    "this corpus. Levers: densify {'centroids': ...} (the "
                    "paper's K knob; ~0.1% of N keeps clusters ~1k rows), "
                    "refine the sample with kmeans-centroids first, "
                    "sub-partition hot clusters with {'hot_split': m} "
                    "(bounded work, slight recall trade), or override with "
                    "{'max_cluster_pairs': n} (0 disables)"
                )
    if split_ids:
        # Post-split re-check (VERDICT r11): sub-partitioning m ways
        # bounds a c-member cluster at ~c^2/(2m) pairs only in
        # EXPECTATION — a pathological geometry (every member nearest
        # the same sub-centroid) can leave one (cluster, sub) group
        # still over the cap, and the pre-check above never sees it.
        # One agg over the pinned relation (materializing the pin the
        # real plan reuses) measures the largest post-split group; over
        # the cap the op WARNS with the guard's levers (not a refusal:
        # the user explicitly chose the constructive path and its
        # documented work/recall trade — the class being fixed is
        # SILENT quadratic absorption, and the warning names the fix).
        top = (
            ranked.filter(F.col("cluster").isin(split_ids))
            .groupBy("cluster", "__sub")
            .agg(F.count(F.lit(1)).alias("__n"))
            .orderBy(F.col("__n").desc())
            .limit(1)
            .collect()
        )
        if members_pin is not None:
            # the ranked pin is materialized now; the members pin has
            # served its four consumers
            members_pin.unpersist(blocking=False)
            members_pin = None
        if top:
            c_max, hot, sub = top[0]["__n"], top[0]["cluster"], top[0]["__sub"]
            est = c_max * (c_max - 1) // 2
            if est > max_pairs:
                import warnings

                warnings.warn(
                    f"semdedup: hot_split={hot_split} still leaves "
                    f"(cluster {hot!r}, sub {sub}) at {c_max} members "
                    f"(~{est} within-group pairs > max_cluster_pairs="
                    f"{max_pairs}) — the sub-centroids did not spread this "
                    "cluster; the pair join will absorb that quadratic "
                    "work. Levers: raise {'hot_split': m}, densify "
                    "{'centroids': ...} (the lossless fix), or raise "
                    "{'max_cluster_pairs': n}",
                    ResourceWarning,
                    stacklevel=3,
                )
    earlier_cols = [
        F.col("cluster").alias("__cl"), F.col("__rk").alias("__rke"),
        F.col("__v").alias("__ve"), F.col("__n").alias("__ne"),
    ]
    if split_ids:
        earlier_cols.append(F.col("__sub").alias("__sube"))
    earlier = ranked.select(*earlier_cols)
    # plain division: inside `ranked`, cluster IS NOT NULL proves the
    # member norm > 0 (a zero-norm vector has every centroid sim NULL and
    # was filtered), so the ANSI divide-by-zero case cannot occur and the
    # pair cosine stays one codegen expression
    pair_cos = dot_col(F.col("__ve"), F.col("__v"), dim) / (F.col("__ne") * F.col("__n"))
    # Rank-bucketed triangular join: a naive equi-join on `cluster`
    # alone sends a cluster's ENTIRE triangular pair space to one task
    # (measured: one 2k-member hot cluster = 2M pairs single-task, 42s
    # where the 16-cluster layout takes ~3s). Bucketing the rank space
    # into `pair_bucket`-row blocks makes the join key (cluster, block):
    # the earlier side carries its own block id, the later side explodes
    # to every block at-or-below its own, so a c-member cluster spreads
    # its c^2/2 pairs over c/S keys (max key load S*c) while clusters
    # smaller than one bucket behave exactly as before. Pair count and
    # decisions are unchanged — the __rke < __rk predicate still gates
    # the shared-block diagonal.
    bucket = int_opt(opts, "pair_bucket", "semdedup", 128)
    if bucket < 1:
        raise ArityError(f"semdedup pair_bucket must be >= 1, got {bucket}")
    blk = lambda c: F.floor((c - F.lit(1)) / F.lit(bucket))  # noqa: E731
    # max-cos AGGREGATE instead of filter+distinct: a filter on the pair
    # cosine pushes into the sort-merge join as a non-equi predicate,
    # where the 2*dim getItem chain evaluates INTERPRETED once per
    # candidate pair (measured: ~3x the whole-query cost on the hot
    # cluster). Keeping the join condition to the cheap equi+rank
    # predicates and folding the cosine into a per-member max aggregate
    # keeps the chain in whole-stage codegen AND map-side-combines the
    # pair fan-out down to one row per member before the only shuffle.
    pair_cond = (
        (F.col("cluster") == F.col("__cl"))
        & (F.col("__blk") == F.col("__blke"))
        & (F.col("__rke") < F.col("__rk"))
    )
    if split_ids:
        pair_cond = pair_cond & (F.col("__sub") == F.col("__sube"))
    dup_ids = (
        ranked.withColumn(
            "__blk", F.explode(F.sequence(F.lit(0), blk(F.col("__rk"))))
        )
        .join(earlier.withColumn("__blke", blk(F.col("__rke"))), pair_cond)
        .select(F.col(idc), pair_cos.alias("__pc"))
        .groupBy(idc)
        .agg(F.max("__pc").alias("__maxcos"))
        .filter(F.col("__maxcos") >= F.lit(thr))
        .select(F.col(idc))
    )
    flagged = ranked.join(
        dup_ids.withColumn("__dup", F.lit(True)), idc, "left"
    ).select(
        F.col(idc), F.col("cluster"),
        F.col("sim").alias("sim_centroid"),
        F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep"),
    )
    degenerate = pinned.filter(F.col("cluster").isNull()).select(
        F.col(idc), F.col("cluster"),
        F.col("sim").alias("sim_centroid"),
        F.lit(None).cast("boolean").alias("keep"),
    )
    out = flagged.unionByName(degenerate)
    if action == "filter":
        out = out.filter(F.col("keep"))
    return KStreamRel(out, key_cols=(idc,))


@defop("semdedup-join")
def op_semdedup_join(ctx: Ctx, left: Rel, right: Rel, *rest) -> KStreamRel:
    """Cross-corpus semantic deduplication — the embedding-space sibling
    of lsh-join's incremental-dedup shape, and the streaming path that
    semdedup's closed-input contract refuses:

        ["semdedup-join", new_rel, reference_rel,
         {"id": "vec_id", "vec": "embedding",
          "right_id": "vec_id", "right_vec": "embedding",
          "dim": 64, "centroids": "vec_id % 127 = 3",
          "threshold": 0.3, "action": "annotate"}]

    Drops/flags every LEFT vector whose cosine to ANY reference-corpus
    member of its assigned cluster reaches ``threshold`` — the
    reference always wins; there is no within-left suppression or
    keep-one-per-group rank rule (for one-corpus dedup use semdedup; a
    left row whose identical twin sits in the reference drops, which is
    the decontamination-style point). ``centroids`` is a filter
    expression over the RIGHT relation; both sides are assigned by the
    same broadcast argmax so cluster spaces agree by construction.

    Plan: the K sampled centroids are BOUNDED driver state (max_k
    guard, kmeans-centroids' contract — collected once at construction,
    shipped as one executor broadcast of a K x dim float64 matrix);
    assignment is an Arrow-batched matmul+argmax pandas UDF
    (first-match over ascending centroid ids = the smallest-id
    tie-break; zero-norm / non-finite / wrong-dim vectors assign NULL).
    The reference side's assigned members pin MEMORY_AND_DISK — a
    stream-static join re-executes the static plan per micro-batch
    (lsh-join's rationale). The dup test takes one of two shapes with
    identical decisions (pinned by the one-microbatch parity test):
    BATCH lefts run the threshold left-SEMI join ONCE — the hash
    probe early-exits at the first cluster-mate over the threshold
    (A/B'd this round: ~2x faster than a semdedup-style equi-join +
    max-agg fold at common-match thresholds, tied in the rare-match
    regime) — and join the dup-row set back to the pinned
    assigned-left on a minted per-row key for the keep/degenerate
    CASE (decisions are per ROW: NULL or duplicate values in ``id``
    cannot merge or leak keep flags). STREAMING lefts keep separate
    stream-legal left-anti/left-semi/degenerate branches (the id
    join-back would be a stream-stream self-join, illegal without
    time bounds). Per-candidate probe work is bounded by cluster
    size, i.e. by centroid-sample density, the same K knob as
    semdedup. {"broadcast": true} hints the reference side.

    Assignment is ORACLE-EXACT including near-ties (r11, closing the
    r10 accepted-risk note): the fast path stays the BLAS matmul
    argmax, but rows whose best-vs-second-best cosine gap is within
    summation-order error are re-decided with left-to-right sequential
    dots on the RAW centroid vectors — the exact arithmetic of the
    DuckDB oracle's list_dot_product/(n*cn) ordering — so duplicated
    or near-duplicated centroids assign identically on both engines.

    {'nprobe': p} (late r13, batch-left only): the single-cluster dup
    test misses near-dups straddling a cluster boundary, and the floor
    WORSENS with K (measured on planted cos-0.94 duplicates: recall
    0.69 at K~15, 0.60 at K~62 — finer clusters mean more boundaries,
    the same K the op recommends raising for bounded work). nprobe
    widens the test to the members of the left row's top-p clusters —
    IVF's query-side knob — at ~p x the left-side probe volume;
    `cluster` in the output stays the exact top-1 assignment, and
    precision is unaffected (every flagged pair still passes the exact
    cosine threshold). Streaming lefts refuse p > 1 curatedly (the
    any-probed-copy decision needs a per-row aggregation the
    stream-legal branches cannot express). Since r15 the boundary-miss
    floor is LOUD: a batch left at nprobe=1 with threshold >= 0.8
    warns at construction (UserWarning, naming the measured recall and
    the nprobe lever); {'single_probe_ok': True} acknowledges.

    Output: every left column plus (cluster, keep); NULL-assigned left
    rows pass through keep NULL (flagged, never silently kept or
    dropped). {"action": "filter"} returns survivors only (NULL
    assignments drop with the duplicates). Batch left and streaming
    left produce identical decisions (same UDF, same predicate —
    pinned by the one-microbatch parity test). Right must be batch:
    a streaming reference is refused with a curated error."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..errors import ArityError

    opts = _opts(rest)
    refuse_removed_opt(opts, "storage", "semdedup-join", STORAGE_REMOVED)
    idc, vecc = opts.get("id", "vec_id"), opts.get("vec", "embedding")
    ridc = opts.get("right_id", idc)
    rvecc = opts.get("right_vec", vecc)
    dim = _pos_int_opt(opts, "dim", "semdedup-join")
    if not dim:
        raise ArityError("semdedup-join needs {'dim': <vector length>}")
    thr = float_opt(opts, "threshold", "semdedup-join", 0.9)
    max_k = int_opt(opts, "max_k", "semdedup-join", 65536)
    nprobe = _pos_int_opt(opts, "nprobe", "semdedup-join", default=1)
    if nprobe > 1 and left.df.isStreaming:
        raise ArityError(
            "semdedup-join nprobe > 1 is batch-left only: the any-probed-"
            "cluster decision needs a per-row aggregation over the "
            "exploded probe copies, which the stream-legal anti/semi "
            "branches cannot express; run the sweep as a batch, or keep "
            "nprobe=1 for the stream"
        )
    if (
        nprobe == 1
        and not left.df.isStreaming
        and thr >= 0.8
        and not opts.get("single_probe_ok")
    ):
        # loud-at-construction (VERDICT r14: the engine's LAST silent
        # recall cliff): the default nprobe=1 dup test only compares a
        # left row against its own top-1 cluster's members, so true
        # near-dups straddling a cluster boundary are silently KEPT —
        # measured recall 0.69 at K~15 and 0.60 at K~62 on planted
        # cos-0.94 duplicates (worsening with K: finer clusters mean
        # more boundaries, the same K the op recommends raising for
        # bounded pair work). Warned only at dedup-grade thresholds
        # (>= 0.8) on the batch left, where the nprobe lever exists;
        # UserWarning so it survives Python's default filters (the
        # single-band precedent above).
        import warnings

        warnings.warn(
            "semdedup-join: the default {'nprobe': 1} tests a left row "
            f"only against its top-1 cluster's members — at threshold="
            f"{thr} boundary-straddling "
            "near-duplicates are silently kept (measured recall 0.69 at "
            "K~15, 0.60 at K~62 on planted cos-0.94 dups; worsens as "
            "centroid count grows). Widen the probe with {'nprobe': 2+} "
            "(~p x left-side probe volume, precision unaffected), or "
            "acknowledge single-probe testing with "
            "{'single_probe_ok': True}.",
            UserWarning,
            stacklevel=3,
        )
    action = opts.get("action", "annotate")
    if action not in ("annotate", "filter"):
        raise ArityError(
            f"semdedup-join action must be 'annotate' or 'filter', got {action!r}"
        )
    cexpr = opts.get("centroids") or opts.get("init")
    if not cexpr:
        raise ArityError(
            "semdedup-join needs {'centroids': <filter expr on the "
            "reference relation>}"
        )
    if right.df.isStreaming:
        raise ArityError(
            "semdedup-join reference side is batch-only (the centroid "
            "sample and member pin need a closed input); stream the NEW "
            "side, not the reference"
        )
    for out_col in ("cluster", "keep"):
        if out_col in left.df.columns:
            raise ArityError(
                f"semdedup-join: output column {out_col!r} already exists "
                "on the left input; rename it upstream"
            )
    # Reserved internal working columns (ADVICE r10): withColumn would
    # silently OVERWRITE a same-named left column and the `*orig`
    # re-select would then emit the internal value, corrupting output.
    for internal in ("__rid", "__lv", "__ln"):
        if internal in left.df.columns:
            raise ArityError(
                f"semdedup-join: left column {internal!r} collides with a "
                "reserved internal working column (the '__' prefix is "
                "reserved by this op); rename it upstream"
            )

    rprep = _prepared(right, ridc, rvecc, dim)
    cid_type = next(f.dataType for f in rprep.schema.fields if f.name == ridc)
    init_rows = (
        rprep.filter(F.expr(cexpr))
        .select(F.col(ridc).alias("__cid"), "__v")
        .limit(max_k + 1)
        .collect()
    )
    if not init_rows:
        raise ArityError(
            f"semdedup-join: centroids filter {cexpr!r} matched no "
            "reference rows"
        )
    if len(init_rows) > max_k:
        raise ArityError(
            f"semdedup-join: centroids filter {cexpr!r} matched more than "
            f"max_k={max_k} rows — sample sparser or raise {{'max_k': n}}"
        )
    def _seqdot(a, b):
        # strictly left-to-right IEEE-double accumulation — the exact
        # summation order of dot_col's unrolled chain and DuckDB's
        # list_dot_product, so values agree with the oracle BIT-FOR-BIT
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    cents = []
    for r in sorted(init_rows, key=lambda r: (r["__cid"] is None, r["__cid"])):
        v = r["__v"]
        if r["__cid"] is None or v is None or len(v) != dim:
            continue
        a = np.asarray(v, dtype=np.float64)
        n = float(np.linalg.norm(a))
        if not np.isfinite(a).all() or n <= 0.0:
            continue
        cents.append((r["__cid"], a / n, a, math.sqrt(_seqdot(a, a))))
    if not cents:
        raise ArityError(
            f"semdedup-join: centroids filter {cexpr!r} matched only "
            "degenerate (NULL / zero-norm / wrong-dim) vectors"
        )
    cids = [c for c, _, _, _ in cents]
    cmat = np.vstack([u for _, u, _, _ in cents])
    craw = np.vstack([a for _, _, a, _ in cents])
    crn = np.asarray([sn for _, _, _, sn in cents])
    bc = ctx.spark.sparkContext.broadcast((cids, cmat, craw, crn))

    @pandas_udf(cid_type)
    def _assign(vs):
        import math as _math

        cids_, cn, craw_, crn_ = bc.value
        arrs = vs.to_numpy()
        res = np.full(len(arrs), None, dtype=object)
        ok = np.fromiter(
            (a is not None and len(a) == cn.shape[1] for a in arrs),
            dtype=bool, count=len(arrs),
        )
        if ok.any():
            mat = np.vstack([np.asarray(a, dtype=np.float64) for a in arrs[ok]])
            rn = np.linalg.norm(mat, axis=1)
            good = np.isfinite(mat).all(axis=1) & (rn > 0.0)
            # Fast path: cosine argmax == raw-dot argmax against UNIT
            # centroids (the row norm is a positive per-row constant);
            # np.argmax keeps the FIRST max = smallest centroid id on
            # exact ties (cids are sorted ascending at build).
            scores = mat @ cn.T
            idx = scores.argmax(axis=1)
            # Near-tie exact pass (closes the r10 "accepted float-path
            # risk"): BLAS reorders the summation, so when best and
            # second-best cosines sit within summation-order error the
            # matmul winner can differ from the oracle's sequential
            # dot. Flag rows whose cosine-scale gap <= 1e-9 (BLAS
            # reassociation error is ~1e-13 relative at these dims —
            # four orders of margin) and re-decide them with the
            # EXACT oracle arithmetic: left-to-right sequential dots
            # on RAW centroid vectors, seq norms, strict > keeping the
            # first (= smallest centroid id, the row_number ORDER BY
            # sim DESC, cid rule). Cost is rows-flagged x K x dim in
            # Python — nonzero only for genuinely near-duplicated
            # centroids, where correctness is exactly what matters.
            if cn.shape[0] > 1:
                part = np.partition(scores, -2, axis=1)
                with np.errstate(invalid="ignore", divide="ignore"):
                    gap = (part[:, -1] - part[:, -2]) / rn
                for i in np.flatnonzero(good & (gap <= 1e-9)):
                    v = mat[i]
                    nv = _math.sqrt(sum(float(x) * float(x) for x in v))
                    best, bi = None, idx[i]
                    for k in range(craw_.shape[0]):
                        s = 0.0
                        for x, y in zip(v, craw_[k]):
                            s += float(x) * float(y)
                        cosk = s / (nv * crn_[k])
                        if best is None or cosk > best:
                            best, bi = cosk, k
                    idx[i] = bi
            picks = np.asarray(cids_, dtype=object)[idx]
            picks[~good] = None
            res[np.flatnonzero(ok)] = picks
        return pd.Series(res)

    from pyspark.sql.types import ArrayType

    @pandas_udf(ArrayType(cid_type))
    def _probe_topp(vs):
        # top-nprobe nearest clusters for the LEFT side's dup test
        # (IVF's query-side knob). Stable argsort on negated scores
        # breaks exact ties by ascending centroid id (cids sorted at
        # build) — the single-assign tie rule. No sequential near-tie
        # re-rank here: the dup decision depends on the probed SET,
        # which a top-1-vs-top-2 swap inside the set cannot change
        # (only p-boundary ties can, a recall margin, not an oracle
        # claim — the registry shape keeps nprobe=1, the exact path).
        cids_, cn, _, _ = bc.value
        p = min(nprobe, cn.shape[0])
        arrs = vs.to_numpy()
        res = np.full(len(arrs), None, dtype=object)
        ok = np.fromiter(
            (a is not None and len(a) == cn.shape[1] for a in arrs),
            dtype=bool, count=len(arrs),
        )
        if ok.any():
            mat = np.vstack([np.asarray(a, dtype=np.float64) for a in arrs[ok]])
            good = np.isfinite(mat).all(axis=1) & (np.linalg.norm(mat, axis=1) > 0.0)
            order = np.argsort(-(mat @ cn.T), axis=1, kind="stable")[:, :p]
            carr = np.asarray(cids_, dtype=object)
            picks = np.empty(len(mat), dtype=object)
            for i in range(len(mat)):
                picks[i] = list(carr[order[i]]) if good[i] else None
            res[np.flatnonzero(ok)] = picks
        return pd.Series(res)

    from pyspark import StorageLevel

    from .util import pin

    members = pin(
        rprep.withColumn("cluster", _assign(F.col("__v")))
        .filter(F.col("cluster").isNotNull())
        .select(
            F.col("cluster").alias("__rcl"),
            F.col("__v").alias("__rv"), F.col("__n").alias("__rn"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    if opts.get("broadcast"):
        members = F.broadcast(members)

    orig = [F.col(c) for c in left.df.columns]
    lv = F.col(vecc).cast("array<double>")
    la = left.df.withColumn("__lv", lv).withColumn(
        "__ln", norm_col(lv, dim)
    ).withColumn("cluster", _assign(F.col("__lv")))
    if not la.isStreaming:
        # __rid: a physical per-ROW key minted BEFORE the pin, so the
        # semi-join result can be joined back per row regardless of the
        # user id column's contents — a join-back on `idc` corrupted
        # decisions for NULL ids (never equi-join, so a duplicate
        # slipped through as keep=True) and duplicate ids (one dup row
        # dragged its id-mates to keep=False and fanned the join out).
        # Both branches read the SAME pinned materialization, so the
        # ids are consistent across them; on block loss the lineage
        # (stable file-scan order -> narrow projections -> Arrow
        # assign) recomputes them deterministically.
        #
        # The pin itself: the assigned-left relation feeds up to three
        # plan branches (semi side, join-back left, filter) — unpinned,
        # each re-runs the scan + Arrow assign UDF. DISK_ONLY for the
        # semdedup reason: the pinned rows carry the corpus vectors.
        la = pin(la.withColumn("__rid", F.monotonically_increasing_id()))
    assigned = la.filter(F.col("cluster").isNotNull())

    cond = (F.col("cluster") == F.col("__rcl")) & (
        dot_col(F.col("__lv"), F.col("__rv"), dim)
        / (F.col("__ln") * F.col("__rn"))
        >= F.lit(thr)
    )

    if not la.isStreaming:
        # BATCH left: ONE left-semi join + a row-id join-back + a CASE,
        # instead of the streaming path's anti/semi/degenerate union.
        # Adjudicated by A/B this round (hot one-cluster skew bench,
        # 1000x1000 candidate pairs): the semi's per-row EARLY EXIT
        # (hash-probe stops at the first cluster-mate over the
        # threshold) beats a semdedup-style equi-join + max-agg fold
        # ~2x at common-match thresholds and ties it in the rare-match
        # regime, and running the semi ONCE then joining the dup-row
        # set back halves the anti+semi double scan of the union shape
        # (each branch re-evaluated the candidate probe — Catalyst
        # shares no subtree across union branches without a pin).
        if nprobe > 1:
            # IVF query-side multi-probe: the dup test widens to the
            # members of the left row's top-nprobe clusters. Explode
            # the probe set (nprobe copies per row), semi-join each
            # copy, then collapse to per-row via distinct __rid —
            # `cluster` in the output stays the exact top-1 assignment.
            probed = assigned.select(
                "__rid", "__lv", "__ln",
                F.explode(_probe_topp(F.col("__lv"))).alias("cluster"),
            )
            dup_rows = (
                probed.join(members, cond, "left_semi")
                .select("__rid").distinct()
                .withColumn("__dup", F.lit(True))
            )
        else:
            dup_rows = assigned.join(members, cond, "left_semi").select(
                F.col("__rid"), F.lit(True).alias("__dup")
            )
        keep_col = F.when(
            F.col("cluster").isNotNull(), F.col("__dup").isNull()
        ).cast("boolean")
        out = la.join(dup_rows, "__rid", "left").select(
            *orig, F.col("cluster"), keep_col.alias("keep")
        )
        if action == "filter":
            out = out.filter(F.col("keep"))
        return KStreamRel(out, key_cols=left.key_cols or (idc,))

    # STREAMING left: stream-legal left-semi/left-anti on the cluster
    # key with the cosine threshold in the join predicate — the batch
    # id join-back would be a stream-stream self-join (illegal without
    # time bounds), so keep/drop/degenerate stay separate stream-legal
    # branches here. Per-candidate probe work is bounded by cluster
    # size (the centroids knob). Decisions are pinned identical to the
    # batch shape by the one-microbatch parity test.
    keeps = assigned.join(members, cond, "left_anti").select(
        *orig, F.col("cluster"), F.lit(True).alias("keep")
    )
    if action == "filter":
        return KStreamRel(keeps, key_cols=left.key_cols or (idc,))
    dups = assigned.join(members, cond, "left_semi").select(
        *orig, F.col("cluster"), F.lit(False).alias("keep")
    )
    degenerate = la.filter(F.col("cluster").isNull()).select(
        *orig, F.col("cluster"), F.lit(None).cast("boolean").alias("keep")
    )
    out = keeps.unionByName(dups).unionByName(degenerate)
    return KStreamRel(out, key_cols=left.key_cols or (idc,))


@defop("kmeans-centroids", retype_value_errors=False)
def op_kmeans_centroids(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Lloyd-iteration centroid refinement for the IVF layout:

        ["kmeans-centroids", rel, {"id": "vec_id", "vec": "embedding",
                                   "dim": 64, "init": "vec_id % 127 = 3",
                                   "iters": 5}]

    Starts from the deterministic ``init`` sample (same contract as
    ann-ivf-topk's "centroids") — or, r12, from an init RELATION
    operand (``["kmeans-centroids", rel, prior_output, {...}]``): warm
    start from a previous run's (cluster, centroid) output or any
    centroid table via {'centroid_id'/'centroid_vec': col} — and runs
    ``iters`` fixed Lloyd rounds:
    assign every vector to its nearest centroid by cosine, recompute
    each centroid as the coordinate-wise mean (dim unrolled
    avg(getItem(i)) aggregates with map-side partials). Returns
    (cluster, centroid array<double>, n) — feed it to ann-ivf-topk as a
    refined centroid set, or persist it as the cluster dictionary of a
    bucketed IVF table.

    Scale (the MLlib Lloyd shape): the K centroids are BOUNDED driver
    state — collected once per round (guarded by ``max_k``, default
    65536; a too-dense init fails loudly instead of materializing the
    corpus on the driver) and shipped back as one executor broadcast of
    a K x dim float64 matrix. Per round exactly ONE Spark job over the
    corpus: a ``mapInPandas`` pass that both ASSIGNS (one BLAS matmul
    (batch x K x dim) + argmax per Arrow batch, first-match-wins over
    ascending centroid ids reproducing the (-sim, id) tie-break of
    kmeans-assign) and PARTIALLY AGGREGATES — per-task per-cluster
    (sum-vector, count) accumulators — so each task emits at most
    K x (dim+1) partial cells, merged by one tiny posexplode+sum
    aggregation whose collect is K x (dim+1) rows, bounded. The corpus
    itself is never shuffled, and the round job carries no corpus-wide
    Arrow return column (r17: the previous shape returned a per-row
    assignment through ArrowEvalPython into a 64-wide dim-unrolled
    avg aggregate — same shuffle bytes, but the per-round driver cost
    of analyzing/codegen-launching the 130-buffer agg plan measured
    1.71s vs 0.38s for the fused partials pass at sf0.1, a 4.5x
    per-round win; see OPTIMIZATION_r17.md).

    ``{"epsilon": e}`` (r17, default off): stop early when every
    surviving centroid's mean moved less than ``e`` in L2 — converged
    corpora stop paying the remaining rounds (each round is a full
    corpus scan at 100 TB). ``e`` = 0.0 stops only on exact fixpoint.

    Batch-only; no SQL oracle (iterative) — covered by blob-recovery
    and SSE-descent tests instead. Empty clusters drop (standard Lloyd;
    K can shrink). Zero-norm / wrong-width / NULL / non-finite vectors
    assign to no cluster and stay out of the means (cosine undefined),
    matching kmeans-assign. Means are float sums in scan order, so
    exact bits vary run-to-run — consumers rank by cosine, where
    last-bit noise is immaterial."""
    from ..errors import ArityError

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    opts = _opts(rest)
    idc, vecc = opts.get("id", "vec_id"), opts.get("vec", "embedding")
    # the retype_value_errors=False opt-out (protecting execution-time
    # ValueErrors from the Lloyd driver loop) also bypasses keval's
    # curation of construction-time parses — so curate them here, where
    # every other op gets it for free
    try:
        dim = int(_req(opts, "dim", "kmeans-centroids"))
    except ArityError:
        raise
    except (TypeError, ValueError) as e:
        raise ArityError(f"kmeans-centroids: bad numeric option: {e}") from None
    # iters=0 is meaningful: emit the deterministic seeds unrefined
    # (the kmeans-refined-IVF baseline path) — lo=0, not lo=1
    iters = int_opt(opts, "iters", "kmeans-centroids", 5, lo=0)
    max_k = int_opt(opts, "max_k", "kmeans-centroids", 65536, lo=1)
    epsilon = float_opt(opts, "epsilon", "kmeans-centroids")
    if epsilon is not None and epsilon < 0:
        raise ArityError(
            f"kmeans-centroids epsilon must be >= 0, got {epsilon}"
        )
    if dim < 1:
        raise ArityError(f"kmeans-centroids: dim must be >= 1, got {dim}")
    init = opts.get("init") or opts.get("centroids")
    init_rel = next((r for r in rest if isinstance(r, Rel)), None)
    if init_rel is not None and init:
        raise ArityError(
            "kmeans-centroids takes EITHER an init relation operand OR "
            "{'init': <filter expr>}, not both"
        )
    if not init and init_rel is None:
        raise ArityError(
            "kmeans-centroids needs {'init': <filter expr>} or an init "
            "relation operand (warm start from a previous run's output)"
        )
    src_desc = f"filter {init!r}" if init_rel is None else "relation"
    if rel.df.isStreaming:
        raise ArityError("kmeans-centroids is batch-only")

    prepared = _prepared(rel, idc, vecc, dim)
    # lazy: the init collect below is the first action, so the
    # checkpoint materializes inside it instead of paying its own
    # up-front job (r17 A/B: eager 0.42s vs lazy 0.35s for checkpoint +
    # first use; MEMORY_AND_DISK persist ties lazy but keeps full
    # lineage in every round plan — the truncated plan is the point)
    vecs = (_spread(prepared).localCheckpoint(eager=False)
            if iters > 0 else prepared)
    # cluster ids come from the INIT side (a warm-start relation may
    # carry a different id type than the corpus key)
    init_src = (
        _cents_of_rel(init_rel, opts, "kmeans-centroids", dim)
        .select("__cid", "__cv")
        if init_rel is not None
        else vecs.filter(F.expr(init)).select(
            F.col(idc).alias("__cid"), F.col("__v").alias("__cv")
        )
    )
    cid_type = next(
        f.dataType for f in init_src.schema.fields if f.name == "__cid"
    )

    # the centroid set is bounded driver state: limit(max_k+1) caps the
    # fetch so a too-dense init fails loudly instead of collecting the
    # corpus onto the driver
    init_rows = init_src.limit(max_k + 1).collect()
    if not init_rows:
        if iters > 0:
            vecs.unpersist()
        raise ArityError(
            f"kmeans-centroids: init {src_desc} matched no rows"
        )
    if len(init_rows) > max_k:
        if iters > 0:
            vecs.unpersist()
        raise ArityError(
            f"kmeans-centroids: init {src_desc} matched more than "
            f"max_k={max_k} rows — sample sparser or raise {{'max_k': n}}"
        )
    # (cid, centroid ndarray-or-None, n-or-None), ascending by cid so a
    # first-occurrence argmax reproduces the smallest-id tie-break
    state = sorted(
        ((r["__cid"], None if r["__cv"] is None else np.asarray(r["__cv"], dtype=np.float64), None)
         for r in init_rows),
        key=lambda t: (t[0] is None, t[0]),
    )

    sc = ctx.spark.sparkContext
    corpus = vecs.select("__v")  # partials need only the vector column
    for _ in range(iters):
        usable = [(c, v) for c, v, _ in state
                  if v is not None and v.shape == (dim,) and float(np.linalg.norm(v)) > 0.0]
        if not usable:
            state = []  # every centroid degenerate -> nothing assignable
            break
        # ascending cid order so the per-batch argmax's first-match-wins
        # reproduces the (-sim, smallest-id) tie-break of kmeans-assign
        cids = [c for c, _ in usable]
        cmat = np.vstack([v for _, v in usable])
        cmat = cmat / np.linalg.norm(cmat, axis=1)[:, None]
        bc = sc.broadcast(cmat)

        def _partials(batches, _bc=bc, _dim=dim):
            # fused assign + per-task partial aggregation: one BLAS
            # matmul + argmax per Arrow batch, accumulated into
            # K x (dim+1) per-task cells — the task emits its partials
            # ONCE, so neither a per-row assignment column nor any
            # corpus-sized relation crosses the Python boundary back
            cn = _bc.value
            k = cn.shape[0]
            sums = np.zeros((k, _dim), dtype=np.float64)
            cnts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                arrs = pdf["__v"].to_numpy()
                ok = np.fromiter(
                    (a is not None and len(a) == _dim for a in arrs),
                    dtype=bool, count=len(arrs),
                )
                if not ok.any():
                    continue
                mat = np.vstack(
                    [np.asarray(a, dtype=np.float64) for a in arrs[ok]])
                # NaN/Inf components would make argmax pick arbitrarily
                # and poison that cluster's mean — exclude them like
                # zero-norm vectors (the documented NULL/degenerate
                # behavior, identical to kmeans-assign)
                good = np.isfinite(mat).all(axis=1)
                good &= np.linalg.norm(mat, axis=1) > 0.0
                if not good.any():
                    continue
                mat = mat[good]
                picks = (mat @ cn.T).argmax(axis=1)
                np.add.at(sums, picks, mat)
                np.add.at(cnts, picks, 1)
            live = np.nonzero(cnts)[0]
            if len(live):
                yield pd.DataFrame({
                    "ci": live.astype("int32"),
                    # count rides as cell dim (exact in a double far past
                    # any real row count), so ONE exploded sum merges
                    # sums and counts together
                    "s": [sums[i].tolist() + [float(cnts[i])] for i in live],
                })

        cell_rows = (
            corpus.mapInPandas(_partials, "ci int, s array<double>")
            .select("ci", F.posexplode("s").alias("pos", "v"))
            .groupBy("ci", "pos")
            .agg(F.sum("v").alias("v"))
            .collect()  # K x (dim+1) rows — bounded driver state
        )
        bc.unpersist()
        cells: dict = {}
        for r in cell_rows:
            cells.setdefault(r["ci"], {})[r["pos"]] = r["v"]
        new_state = []
        for ci, by_pos in cells.items():
            n = int(by_pos[dim])
            mean = np.asarray(
                [by_pos[i] for i in range(dim)], dtype=np.float64) / n
            new_state.append((cids[ci], mean, n))
        prev = {c: v for c, v, _ in state}
        state = sorted(new_state, key=lambda t: (t[0] is None, t[0]))
        if epsilon is not None and state and len(state) == len(prev) and all(
            prev.get(c) is not None
            and prev[c].shape == v.shape
            and float(np.linalg.norm(v - prev[c])) <= epsilon
            for c, v, _ in state
        ):
            break  # converged: K stable and every centroid moved <= epsilon
    if iters > 0:
        vecs.unpersist()

    out_schema = StructType([
        StructField("cluster", cid_type),
        StructField("centroid", ArrayType(DoubleType())),
        StructField("n", LongType()),
    ])
    out = ctx.spark.createDataFrame(
        [(c, None if v is None else [float(x) for x in v], n) for c, v, n in state],
        out_schema,
    )
    return KStreamRel(out, key_cols=("cluster",))


@defop("vec-norm")
def op_vec_norm(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """L2 norm + unit-normalized embedding columns — the step before any
    cosine-based ANN / neardup pass (and the cheap NULL/zero-vector QA):

        ["vec-norm", rel, {"col": "embedding", "as": "unit",
                           "norm_as": "norm", "dim": 64}]
        -> input + norm double + unit array<double> (NULL when the
           norm is 0 or the vector is NULL — flag, don't divide).

    Pure per-row expressions (streaming-legal, no shuffle, no Python).
    The norm uses the same sequential-order dot chain as ann-topk
    (dot_col), so values are bit-comparable with DuckDB's
    list_dot_product on identical inputs; with "dim" the chain is
    unrolled into codegen (see dot_col)."""
    opts = _opts(rest)
    colc = opts.get("col", "embedding")
    dim = _pos_int_opt(opts, "dim", "vec-norm")
    out = opts.get("as", "unit")
    norm_as = opts.get("norm_as", "norm")
    # double math end to end (the ann-topk convention: DuckDB reproduces
    # it with embedding::DOUBLE[] + list_dot_product). The norm is
    # materialized in its OWN projection and the unit lambda references
    # the materialized column: inlining the (dim-unrolled) norm chain
    # into the per-element division would re-expand it dim+1 times —
    # measured 13.9s vs 1.4s at sf0.01, pure codegen compile blow-up.
    # CollapseProject keeps the split because the chain is non-cheap.
    v = F.col(colc).cast("array<double>")
    n = norm_col(v, int(dim) if dim else None)
    nc = F.col(norm_as)
    unit = F.when(nc > 0, F.transform(v, lambda x: x / nc))
    df = rel.df.withColumn(norm_as, n).withColumn(out, unit)
    return rel.with_df(df)


@defop("vec-pool")
def op_vec_pool(ctx: Ctx, rel: Rel, *rest) -> KStreamRel:
    """Element-wise mean/sum pooling of embeddings per group — chunk
    embeddings -> document embedding, doc embeddings -> class centroid:

        ["vec-pool", rel, {"col": "embedding", "by": "label",
                           "mode": "mean", "as": "pooled"}]
        -> (by..., pooled array<double>, n bigint).

    Plan: posexplode to (group, position, value) rows, ONE hash
    aggregation per (group, position) with map-side partials, then
    re-assemble each group's array with a sorted collect over exactly
    ``dim`` rows per group. Shuffle volume is rows x dim scalar values —
    linear, and two orders of magnitude below any pairwise op; the
    re-assembly collect is bounded by the dimension, never by group
    size. Batch-only (corpus-global statistic; a streaming mean needs a
    windowed-by agg)."""
    from ..errors import ArityError

    opts = _opts(rest)
    colc = opts.get("col", "embedding")
    by = opts.get("by")
    if not by:
        raise ArityError("vec-pool needs {'by': group cols}")
    if isinstance(by, str):
        by = [by]
    if rel.df.isStreaming:
        raise ArityError("vec-pool is batch-only (use windowed-by on streams)")
    mode = opts.get("mode", "mean")
    if mode not in ("mean", "sum"):
        raise ArityError(f"vec-pool mode must be 'mean' or 'sum', got {mode!r}")
    out = opts.get("as", "pooled")
    agg = (F.avg if mode == "mean" else F.sum)(F.col("__v").cast("double"))
    per_pos = (
        rel.df.select(*by, F.posexplode(F.col(colc)).alias("__p", "__v"))
        .groupBy(*by, "__p")
        .agg(agg.alias("__m"), F.count(F.lit(1)).alias("__n"))
    )
    assembled = (
        per_pos.groupBy(*by)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__m"))),
                lambda s: s["__m"],
            ).alias(out),
            F.max("__n").alias("n"),
        )
    )
    return KStreamRel(assembled, key_cols=tuple(by))


@defop("vec-project")
def op_vec_project(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Seeded signed random projection (Achlioptas/Johnson-Lindenstrauss):
    project ``dim``-dimensional embeddings to ``k`` dimensions with a
    deterministic ±1 sign matrix, scaled by 1/sqrt(k) so expected pairwise
    distances are preserved:

        ["vec-project", rel, {"col": "embedding", "dim": 64, "k": 16,
                              "seed": 0, "as": "proj"}]
        -> input + proj array<double> (NULL vector -> NULL).

    The step BEFORE bucketed ANN / LSH when the raw dimension makes
    signatures expensive — at 100 TB, projecting 1024-dim embeddings to
    64 dims cuts every downstream shuffle 16x while keeping neighbor
    structure (JL lemma). The sign matrix is derived from md5(seed:j:i)
    at PLAN time and baked into the expression as literal +-, so the
    projection is: pure per-row codegen chains (dot_col's unrolled
    left-associated form — bit-reproducible, streaming-legal, no
    Python), identical on every engine/session, and never shipped as
    data. ``dim`` is required: the unrolled chain needs the input width
    at plan time (the ann-topk convention); vectors SHORTER than dim
    (and NULL vectors) produce a truly NULL projection column — a
    downstream ``proj IS NOT NULL`` filter drops them, same as the
    ann ops' convention."""
    import hashlib as _hashlib

    from ..errors import ArityError

    opts = _opts(rest)
    colc = opts.get("col", "embedding")
    out = opts.get("as", "proj")
    dim = _pos_int_opt(opts, "dim", "vec-project")
    k = opts.get("k")
    seed = int_opt(opts, "seed", "vec-project", 0)
    if not dim or not k:
        raise ArityError(
            "vec-project needs {'dim': input width, 'k': output width} "
            "(the sign matrix and unrolled chains are built at plan time)"
        )
    dim, k = int(dim), int(k)
    if k < 1 or dim < 1:
        raise ArityError("vec-project needs dim >= 1 and k >= 1")
    if out in rel.df.columns:
        raise ArityError(
            f"vec-project: output column {out!r} already exists on the "
            'input; pass a different "as" name'
        )

    def _sign(j: int, i: int) -> float:
        h = _hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) < 8 else -1.0

    v = F.col(colc).cast("array<double>")
    scale = 1.0 / (k ** 0.5)
    comps = []
    for j in range(k):
        acc = F.get(v, 0) * F.lit(_sign(j, 0))
        for i in range(1, dim):
            acc = acc + F.get(v, i) * F.lit(_sign(j, i))
        comps.append(acc * F.lit(scale))
    # size guard: without it a short vector yields a non-NULL array of
    # NULL elements (out-of-range F.get), which `proj IS NOT NULL`
    # would NOT drop — make the whole column NULL as documented
    proj = F.when(v.isNotNull() & (F.size(v) >= dim), F.array(*comps))
    return rel.with_df(rel.df.withColumn(out, proj))

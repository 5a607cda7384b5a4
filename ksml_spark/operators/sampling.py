"""Dataset-splitting / sampling operators for training-data pipelines
(SURVEY.md §2.10 extensions; no analog in the reference — cddr/ksml wraps
the Kafka Streams DSL, which has no sampling surface).

    ["hash-split", rel, {"id": "doc_id",
                         "fractions": {"train": 0.9, "val": 0.05, "test": 0.05},
                         "salt": "v1", "as": "split"}]
        deterministic, engine-portable split assignment: a document lands
        in the same split on every run, every engine, any partitioning —
        the property random() sampling can't give a reproducible pipeline.

    ["cap-per-group", rel, {"by": ["lang"], "order": ["-quality", "doc_id"],
                            "n": 100}]
        keep at most n rows per group under a deterministic total order
        ("-col" = descending, as in order-by) — the "at most K documents
        per domain" downsampling step.

Scale posture: hash-split is a pure per-row expression (no shuffle, no
state, works identically on streams); cap-per-group is one hash-partition
shuffle on the group key + a frameless rank (a single pass per
partition) — batch-only, since Structured Streaming rejects non-time
windows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..errors import ArityError
from ..eval import Ctx, defop
from ..model import Rel
from .util import PERSIST_REMOVED, int_opt, refuse_removed_opt, str_opt
from .util import opts_of as _opts


def _bucket32(idc: str, salt: str):
    """32-bit md5(id + salt) bucket — the shared engine-portable cutoff
    domain for hash-split / sample-hash / mix (util.md5_long_col with 8
    hex chars; DuckDB: ('0x' || substr(md5(id || salt), 1, 8))::BIGINT).
    NULL ids hash to NULL: every cutoff comparison is then NULL — each
    op documents whether that labels (hash-split) or drops (sample-hash,
    mix) the row."""
    from .util import md5_long_col

    return md5_long_col(F.concat(F.col(idc).cast("string"), F.lit(salt)), 8)


@defop("hash-split")
def op_hash_split(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Adds a split-label column from an md5 hash of (id, salt).

    The 32-bit hash prefix is compared against INTEGER cutoffs
    (floor(cumulative fraction * 2^32)) — no floating point anywhere, so
    the assignment is bit-identical across engines (the DuckDB oracle
    uses the same md5 prefix and the same integer cutoffs). Changing
    ``salt`` re-draws the whole assignment; fractions are normalized to
    sum to 1.

    LEAKAGE-FREE GROUP SPLITS fall out of the id choice: pass the GROUP
    column as ``id`` (e.g. {"id": "source"} or a domain expression
    materialized with with-column) and every row of a group lands in
    the same split — the train/test-contamination guard for
    near-duplicate-heavy groups (same-domain pages, same-source docs)."""
    opts = _opts(rest)
    idc = opts.get("id", "doc_id")
    out = opts.get("as", "split")
    salt = str_opt(opts, "salt", "hash-split", "")
    fractions = opts.get("fractions") or {"train": 0.9, "val": 0.05, "test": 0.05}
    if not isinstance(fractions, dict) or not fractions:
        raise ArityError("hash-split needs {'fractions': {name: weight, ...}}")
    total = float(sum(fractions.values()))
    if total <= 0:
        raise ArityError("hash-split fractions must sum to > 0")

    bucket = _bucket32(idc, salt)
    # NULL ids get a NULL split, explicitly: md5(NULL) is NULL, every
    # cutoff comparison is NULL/false, and without this guard the CASE
    # would silently dump all malformed rows into the LAST split
    expr = F.when(F.col(idc).isNull(), F.lit(None).cast("string"))
    acc = 0.0
    names = list(fractions.items())
    for name, w in names[:-1]:
        acc += float(w) / total
        cut = int(acc * (1 << 32))  # integer cutoff: no float compare
        expr = expr.when(bucket < F.lit(cut), F.lit(name))
    expr = expr.otherwise(F.lit(names[-1][0]))
    return rel.with_df(rel.df.withColumn(out, expr))


@defop("cap-per-group")
def op_cap_per_group(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Keeps at most ``n`` rows per group, chosen by a deterministic
    order (ties must be broken by the order columns — include a unique
    id last). One shuffle on the group key; rank + filter, no state."""
    from pyspark.sql import Window

    from .util import order_cols

    opts = _opts(rest)
    by = opts.get("by")
    order = opts.get("order")
    n = int_opt(opts, "n", "cap-per-group", 0)
    if not by or not order or n <= 0:
        raise ArityError("cap-per-group needs {'by': cols, 'order': cols, 'n': > 0}")
    if rel.df.isStreaming:
        raise ArityError(
            "cap-per-group is batch-only (row_number over a non-time window "
            "is not supported on streams; apply per micro-batch via "
            "foreach-batch if needed)"
        )
    by = [by] if isinstance(by, str) else list(by)
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(*order_cols(order))
    out = (
        rel.df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )
    return rel.with_df(out)


@defop("sample-hash")
def op_sample_hash(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Deterministic (optionally stratified) downsampling:

        ["sample-hash", rel, {"id": "doc_id", "salt": "s1",
                              "fraction": 0.3}]
        ["sample-hash", rel, {"id": "doc_id", "salt": "s1",
                              "by": "lang",
                              "fractions": {"en": 0.5, "de": 0.1,
                                            "*": 1.0}}]

    Keeps a row iff its 32-bit md5(id + salt) bucket falls below
    floor(fraction * 2^32) — the same engine-portable integer-cutoff
    construction as hash-split, so the SAME rows are kept on every run,
    every engine, any partitioning (rebalancing a corpus by language /
    source needs reproducible subsets, which random() sampling can't
    give). Stratified form: per-group fractions on the ``by`` column,
    "*" the default for unlisted groups (absent -> unlisted groups are
    DROPPED). A subset with a smaller fraction at the same salt is a
    strict subset of a larger one (nested samples — fraction sweeps
    reuse downstream caches). Pure per-row expression: no shuffle, no
    state, streaming-safe. NULL ids are dropped (their bucket is NULL).
    """
    opts = _opts(rest)
    idc = opts.get("id", "doc_id")
    salt = str_opt(opts, "salt", "sample-hash", "")
    by = opts.get("by")
    bucket = _bucket32(idc, salt)

    def cut(frac) -> int:
        f = float(frac)
        if not (0.0 <= f <= 1.0):
            raise ArityError(f"sample-hash fraction must be in [0, 1], got {frac!r}")
        return (1 << 32) if f >= 1.0 else int(f * (1 << 32))

    if by is None:
        if "fraction" not in opts:
            raise ArityError("sample-hash needs {'fraction': f} or {'by', 'fractions'}")
        keep = bucket < F.lit(cut(opts["fraction"]))
    else:
        fracs = opts.get("fractions")
        if not isinstance(fracs, dict) or not fracs:
            raise ArityError("stratified sample-hash needs {'fractions': {group: f}}")
        default = fracs.get("*", 0.0)
        expr = F.lit(cut(default))
        for g, f in fracs.items():
            if g == "*":
                continue
            expr = F.when(F.col(by) == F.lit(g), F.lit(cut(f))).otherwise(expr)
        keep = bucket < expr
    return rel.with_df(rel.df.filter(keep))


@defop("pack-chunks")
def op_pack_chunks(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Sequence packing (concat-and-chunk): lay every document out on one
    global token tape in a deterministic order and cut it into
    fixed-``budget`` training chunks — the standard pretraining batch
    layout (documents concatenated, split at context-length boundaries).

        ["pack-chunks", rel, {"tokens": "n_tokens_ws", "order": "doc_id",
                              "budget": 4096, "bucket_size": 4096,
                              "id": "doc_id"}]
        -> input columns + (chunk, offset): the chunk index containing
           the document's first token and its offset inside that chunk
           (start = global running token count before the doc;
           chunk = start div budget, offset = start mod budget).

    A single global-order window would serialize the corpus through one
    partition, so the running sum is a two-level parallel prefix sum:

    1. rows cumsum WITHIN ``bucket`` = (order) div bucket_size — a
       partitioned window, fully parallel;
    2. per-bucket totals prefix-summed on the BUCKET relation (K rows,
       one per bucket — a single-partition window over kilobytes, the
       classic carry propagation) and broadcast-joined back.

    The result is identical to the global cumsum for ANY bucket_size —
    partitioning never changes the answer, only the parallelism.
    ``order`` must be a numeric, collision-free expression (div defines
    the buckets); batch-only (global positions need a closed input).

    Cost shape: the input lineage is traversed twice — once for the
    within-bucket cumsum, once for the per-bucket totals. The totals
    branch is column-pruned to (order, tokens) by Catalyst, so when the
    token count is a STORED column (the steady-state layout — real
    pipelines materialize token counts once) the second pass is a
    narrow metadata-light scan. When tokens are computed on the fly
    (e.g. token-count immediately upstream) the tokenize expression runs
    twice; wrap the input in ["persist", rel] upstream so both branches
    read one pinned copy instead."""
    from pyspark.sql import Window

    opts = _opts(rest)
    refuse_removed_opt(opts, "persist", "pack-chunks", PERSIST_REMOVED)
    tokc = opts.get("tokens")
    if not tokc:
        raise ArityError("pack-chunks needs {'tokens': <token-count column>}")
    idc = opts.get("id", "doc_id")
    order = opts.get("order", idc)
    budget = int_opt(opts, "budget", "pack-chunks", 4096)
    bucket_size = int_opt(opts, "bucket_size", "pack-chunks", 4096)
    if budget < 1 or bucket_size < 1:
        # both are divisors: 0 aborts the job with ANSI DIVIDE_BY_ZERO
        # at first action — refuse loudly at construction instead
        raise ArityError(
            f"pack-chunks needs budget >= 1 and bucket_size >= 1, got "
            f"budget={budget}, bucket_size={bucket_size}"
        )
    if rel.df.isStreaming:
        raise ArityError(
            "pack-chunks is batch-only: chunk positions depend on the total "
            "global order, which an unbounded stream never closes"
        )

    df = rel.df.withColumn("__bkt", (F.expr(order).cast("long") / bucket_size).cast("long"))
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(F.expr(order), F.col(idc))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = df.withColumn("__in_off", F.coalesce(F.sum(tokc).over(w_in), F.lit(0)))
    totals = df.groupBy("__bkt").agg(F.sum(F.col(tokc)).alias("__tot"))
    w_b = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "__bkt", F.coalesce(F.sum("__tot").over(w_b), F.lit(0)).alias("__bkt_off")
    )
    out = (
        within.join(F.broadcast(offs), "__bkt")
        .withColumn("__start", F.col("__bkt_off") + F.col("__in_off"))
        # integer div, not `/`: float division drifts past 2^53 total
        # tokens, a magnitude a 100 TB corpus actually reaches
        .withColumn("chunk", F.expr(f"__start div {budget}"))
        .withColumn("offset", F.expr(f"__start % {budget}"))
        .drop("__bkt", "__in_off", "__bkt_off", "__start")
    )
    return rel.with_df(out)


@defop("mix")
def op_mix(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Deterministic source-weighted corpus mixing — subsample groups so
    the surviving rows follow target mixture WEIGHTS while keeping the
    maximum possible data (the "2 parts web : 1 part code" step every
    pretraining mixture needs):

        ["mix", rel, {"by": "source", "weights": {"web": 2, "code": 1},
                      "id": "doc_id", "salt": "v1"}]

    The binding group is the one with the least data per unit weight:
    T = min_g(n_g / w_g); group g keeps ~T * w_g rows via the same
    engine-portable md5 integer-cutoff row selection as sample-hash
    (fraction f_g = T * w_g / n_g, always <= 1) — so the kept set is
    identical on every run/engine/partitioning. Counts are
    cutoff-expected, not exact-integer quotas (deterministic hash
    thresholding, not sorting — no global order, no shuffle of the data
    side). Groups absent from ``weights`` (or weighted 0) are DROPPED,
    as are NULL-``id`` rows (their hash bucket is NULL); weighted
    groups absent from the data don't constrain T (proportions hold
    among present groups).

    Nesting caveat: at a fixed salt each GROUP's kept set is nested in
    its own larger-fraction supersets (the sample-hash property), so a
    weight change only ADDS rows **while the binding group stays the
    same** — e.g. raising a non-binding group's weight. A change that
    moves the min (raising the binding group's weight, or shrinking
    another group's data) lowers T and REMOVES rows from every other
    group; downstream caches keyed on the previous mixture are then
    invalid.

    Scale: one count aggregation over the corpus (map-side partials,
    |groups| rows out), a one-row min attach, and a broadcast join of
    the |groups|-row cutoff table back onto the corpus — the data side
    is never shuffled. Reference: no analog (§2.10 extension
    surface)."""
    opts = _opts(rest)
    by = opts.get("by")
    weights = opts.get("weights")
    if not by or not isinstance(weights, dict) or not weights:
        raise ArityError("mix needs {'by': col, 'weights': {group: w, ...}}")
    idc = opts.get("id", "doc_id")
    salt = str_opt(opts, "salt", "mix", "")
    w_map = {g: float(w) for g, w in weights.items() if float(w) > 0}
    if not w_map:
        raise ArityError("mix weights must include at least one group with w > 0")

    wexpr = None
    for g, w in w_map.items():
        cond = F.col(by) == F.lit(g)
        wexpr = F.when(cond, F.lit(w)) if wexpr is None else wexpr.when(cond, F.lit(w))
    counts = (
        rel.df.filter(F.col(by).isin(*w_map))
        .groupBy(by)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__w", wexpr)
    )
    tmin = counts.agg(F.min(F.col("__n") / F.col("__w")).alias("__tmin"))
    # integer cutoff floor(((tmin * w) / n) * 2^32): identical
    # left-associated double arithmetic in the DuckDB oracle, so the
    # kept set is bit-reproducible across engines
    cuts = counts.crossJoin(F.broadcast(tmin)).select(
        F.col(by),
        F.floor(
            F.col("__tmin") * F.col("__w") / F.col("__n") * F.lit(4294967296.0)
        ).cast("long").alias("__cut"),
    )
    bucket = _bucket32(idc, salt)
    out = (
        rel.df.join(F.broadcast(cuts), by, "inner")
        .filter(bucket < F.col("__cut"))
        .drop("__cut")
    )
    return rel.with_df(out)


@defop("shuffle")
def op_shuffle(ctx: Ctx, rel: Rel, *rest) -> Rel:
    """Seeded deterministic global shuffle — the training-data scatter
    (corpus -> packed -> SHUFFLED shards) that randomizes example order
    reproducibly:

        ["shuffle", rel, {"id": "doc_id", "seed": 42, "shards": 64,
                          "shard_as": "shard", "pos_as": "pos"}]
        -> every input row + (shard, pos): shard = 60-bit
           md5(seed || '|' || id) mod shards, pos = the row's 1-based
           rank within its shard under the hash order (full md5 hex,
           id tiebreak).

    Reading shards in (shard, pos) order IS the shuffled epoch order:
    md5 scatters ids uniformly and independently of any input layout,
    so the permutation is a pure function of (seed, id) — same order
    on every run, every engine, ANY partitioning (the hash-split
    reproducibility property, extended to a total order). Changing
    ``seed`` re-draws the whole permutation; a downstream ``to!`` sink
    bucketed by the shard column writes ready-to-stream training
    shards.

    Scale posture: one hash-partition shuffle on the shard column plus
    a per-shard local sort (the window is PARTITIONED — no global
    ordering step, no driver collect); with shards >= cluster
    parallelism every executor ranks its own shards. This is exactly
    the repartition + sortWithinPartitions layout Spark would plan for
    a bucketed write, expressed engine-portably. Batch-only: a rank is
    a corpus-global statement (a stream can never close a shard) —
    shuffle a stream per micro-batch via foreach-batch if approximate
    within-batch order is acceptable.

    Reference: no analog (§2.10 extension surface).
    """
    from pyspark.sql import Window

    from ..errors import TypeDispatchError

    opts = _opts(rest)
    idc = opts.get("id", "doc_id")
    seed = int_opt(opts, "seed", "shuffle", 0)
    shards = int_opt(opts, "shards", "shuffle", 64)
    shard_as = opts.get("shard_as", "shard")
    pos_as = opts.get("pos_as", "pos")
    if shards < 1:
        raise ArityError(f"shuffle needs shards >= 1, got {shards}")
    if rel.df.isStreaming:
        raise TypeDispatchError(
            "shuffle assigns a corpus-global order and is batch-only; "
            "a stream never closes a shard — shuffle per micro-batch "
            "via foreach-batch if within-batch order suffices"
        )
    if idc not in rel.df.columns:
        raise ArityError(
            f"shuffle id column {idc!r} not found (have {rel.df.columns})"
        )
    # NULL ids surface NULL shard AND NULL pos — flagged, never
    # silently ranked (the hash-split NULL-labeling convention; the id
    # IS the permutation domain, so a NULL id has no defined position).
    # hb is util.md5_long_col's 60-bit expansion over the salted id; the
    # raw hex h doubles as the within-shard sort key (same md5, CSE'd).
    h = F.md5(F.concat(F.lit(f"{seed}|"), F.col(idc).cast("string")))
    hb = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    w = Window.partitionBy(F.col(shard_as)).orderBy(h.asc(), F.col(idc).asc())
    out = (
        rel.df.withColumn(shard_as, (hb % F.lit(shards)).cast("int"))
        .withColumn(
            pos_as,
            F.when(F.col(idc).isNull(), F.lit(None).cast("long"))
            .otherwise(F.row_number().over(w).cast("long")),
        )
    )
    return rel.with_df(out)

"""The curated-error contract, swept over the ENTIRE operator registry.

Reference parity note: the reference evaluator's only failure mode is the
curated ``(throw (ex-info "unknown expression:" ...))``
(/root/reference/src/cddr/ksml/eval.clj:395) — malformed forms never leak
host-language internals. This suite pins the same property for every
registered op: a structurally wrong DSL form (missing operands, an opts
dict or scalar where an operand belongs) must surface as a KsmlError
(ArityError / TypeDispatchError / UnknownOperatorError) or a Spark
analysis-layer error — NEVER a raw Python KeyError / TypeError /
AttributeError / IndexError from inside the expansion rule.

Three malformed shapes per op, applied to a relation carrying the common
default column names (so failures exercise argument validation, not
missing columns):

* bare:   ["op", rel]           — operands missing entirely
* opts:   ["op", rel, {}]       — an options dict in an operand slot
* scalar: ["op", rel, 42]       — a number in an operand slot
"""

from __future__ import annotations

import pytest

from ksml_spark import OPERATORS, ksml
from ksml_spark.errors import KsmlError

# Spark's own curated argument/analysis errors are acceptable surfaces
# for bad COLUMN references or values (they name the problem and carry
# no engine-internal traceback semantics); raw Python exception types
# from inside an expansion rule are not.
_SPARK_CURATED = (
    "AnalysisException",
    "ParseException",
    "IllegalArgumentException",
    "PySparkValueError",
    "PySparkTypeError",
)


@pytest.fixture(scope="module")
def probe_rel_df(spark):
    return spark.createDataFrame(
        [
            (
                i,
                f"alpha beta gamma delta {i}",
                "en",
                "web",
                25,
                i,
                1500000000 + i,
                [float(i), 1.0, 2.0],
                "click",
                float(i),
            )
            for i in range(3)
        ],
        "doc_id long, text string, lang string, source string, n_chars long,"
        " user_id long, ts long, embedding array<double>, event_type string,"
        " value double",
    )


def _probe(spark, df, form) -> str | None:
    """Returns None when the form is handled (success or curated error),
    else a description of the leaked raw exception."""
    try:
        ksml(form, spark=spark)
        return None
    except KsmlError:
        return None
    except Exception as e:  # noqa: BLE001 — the contract under test
        if type(e).__name__ in _SPARK_CURATED:
            return None
        return f"{type(e).__name__}: {str(e).splitlines()[0][:100]}"


@pytest.mark.parametrize("shape", ["bare", "opts", "scalar"])
@pytest.mark.slow
def test_malformed_forms_surface_curated_errors(spark, probe_rel_df, shape):
    operand = {"bare": None, "opts": {}, "scalar": 42}[shape]
    leaks = {}
    for op in sorted(OPERATORS):
        rel = ["stream", probe_rel_df, {"key": "doc_id"}]
        form = [op, rel] if operand is None else [op, rel, operand]
        leak = _probe(spark, probe_rel_df, form)
        if leak:
            leaks[op] = leak
    assert not leaks, f"raw exceptions leaked for {shape} forms: {leaks}"


def test_curated_errors_remain_stdlib_catchable():
    """Back-compat pins: ArityError is-a ValueError, TypeDispatchError
    is-a TypeError — code written against the stdlib types keeps
    working."""
    from ksml_spark.errors import ArityError, TypeDispatchError

    assert issubclass(ArityError, ValueError)
    assert issubclass(TypeDispatchError, TypeError)
    with pytest.raises(ValueError):
        raise ArityError("x")
    with pytest.raises(TypeError):
        raise TypeDispatchError("x")


def test_missing_required_options_are_curated(spark, probe_rel_df):
    """Required-option fetches go through req_opt — spot-pin the ops
    whose mandatory options used to surface as raw KeyErrors."""
    from ksml_spark.errors import ArityError

    rel = ["stream", probe_rel_df, {"key": "vec_id"}]
    for form, missing in [
        (["ann-topk", rel, {"id": "doc_id", "vec": "embedding"}], "queries"),
        (["ann-lsh-topk", rel, {"id": "doc_id", "vec": "embedding"}], "queries"),
        (["ann-ivf-topk", rel, {"id": "doc_id", "vec": "embedding"}], "centroids"),
        (["kmeans-centroids", rel, {"id": "doc_id", "vec": "embedding",
                                    "init": "doc_id = 0"}], "dim"),
    ]:
        with pytest.raises(ArityError, match=missing):
            ksml(form, spark=spark)


def test_batch_only_ops_refuse_streaming_at_construction(spark, tmp_path):
    """Ops whose plan can only ever fail at stream START (unwatermarked
    global aggregation / all-pairs self-joins / pathless file sinks)
    must refuse a streaming input at CONSTRUCTION with the curated
    error — a refusal buried in query.start() is a debugging tax."""
    from ksml_spark.errors import TypeDispatchError
    from ksml_spark.streaming.runtime import file_stream_source

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    ).write.parquet(p)

    def stream_rel():
        return ["stream", file_stream_source(spark, p), {"key": "doc_id"}]

    for op in ("jaccard-pairs", "containment-pairs", "simhash-pairs",
               "ngrams", "dedup-paragraphs"):
        with pytest.raises(TypeDispatchError, match="batch-only"):
            ksml([op, stream_rel(), {}], spark=spark)

    # r13: the corpus-self-join vector ops too — they used to construct
    # on a stream and die at query.start() with an opaque unsupported-
    # operation failure (ann-ivf: a raw AnalysisException from the eager
    # centroid collect); vec-quantize/vec-project stay stream-legal
    # (per-row expressions)
    for op, o in [
        ("ann-topk", {"queries": "doc_id = 1"}),
        ("ann-lsh-topk", {"queries": "doc_id = 1"}),
        ("ann-ivf-topk", {"queries": "doc_id = 1", "centroids": "doc_id = 1"}),
        ("neardup-pairs", {"lsh_dims": 1}),
    ]:
        with pytest.raises(TypeDispatchError, match="batch-only"):
            ksml([op, stream_rel(), dict(o, id="doc_id", vec="text", dim=3)],
                 spark=spark)

    from ksml_spark.errors import ArityError

    with pytest.raises(ArityError, match="streaming parquet sink needs"):
        ksml(["to", stream_rel(), {}], spark=spark)


def test_junk_option_values_surface_curated_and_named(spark, probe_rel_df):
    """Construction-time ValueErrors (int()/float() parses of junk
    option values) are retyped to ArityError carrying the op name —
    and, being a ValueError subclass, stay stdlib-catchable."""
    from ksml_spark.errors import ArityError

    rel = ["stream", probe_rel_df, {"key": "doc_id"}]
    for form, op in [
        (["histogram", rel, {"col": "value", "min": "x", "max": "y"}], "histogram"),
        (["chunk", rel, {"size": "big"}], "chunk"),
    ]:
        with pytest.raises(ArityError, match=op):
            ksml(form, spark=spark)


def test_bm25_refuses_degenerate_frozen_stats(spark, probe_rel_df):
    """r13: frozen stats with avgdl <= 0 (an empty/degenerate reference
    corpus) previously compiled fine and aborted the JOB with ANSI
    DIVIDE_BY_ZERO on the first matching row — the streaming-scoring
    path's one-bad-config job killer. Refused curatedly at
    construction instead."""
    from ksml_spark.errors import ArityError

    rel = ["stream", probe_rel_df, {"key": "doc_id"}]
    with pytest.raises(ArityError, match="avgdl > 0"):
        ksml(["bm25", rel, {"col": "text", "query": "alpha",
                            "stats": {"n_docs": 3, "avgdl": 0.0,
                                      "df": {"alpha": 2}}}], spark=spark)


def test_zero_divisor_options_refused_at_construction(spark, probe_rel_df):
    """r13 divisor-option sweep: integer options that reach the plan as
    DIVISORS or sequence steps (pack-chunks budget/bucket_size,
    frame-sample frame_bytes/every/max_frames, lsh-join winnow k/window)
    previously compiled fine at 0 and aborted the job at first action
    (ANSI DIVIDE_BY_ZERO / zero-step sequence). Refused curatedly."""
    from ksml_spark.errors import ArityError

    rel = ["stream", probe_rel_df, {"key": "doc_id"}]
    for form, match in [
        (["pack-chunks", rel, {"tokens": "value", "budget": 0}], "budget >= 1"),
        (["pack-chunks", rel, {"tokens": "value", "bucket_size": 0}],
         "bucket_size >= 1"),
        (["frame-sample", rel, {"col": "text", "frame_bytes": 0}],
         "frame_bytes >= 1"),
        (["frame-sample", rel, {"col": "text", "every": 0}], "every >= 1"),
        (["lsh-join", rel, rel, {"method": "winnow", "window": 0,
                                 "unbounded_ok": True}], "window >= 1"),
    ]:
        with pytest.raises(ArityError, match=match):
            ksml(form, spark=spark)


def test_nonpositive_vector_width_options_refused(spark, probe_rel_df):
    """late r13 (the zero-divisor refusal class applied to vector
    widths): a zero/negative `dim`, `sign_dims` or `lsh_dims`
    previously reached F.slice / the unrolled dot chain and aborted at
    first action with an opaque negative-slice-length runtime error
    (or, for dim=0, was silently read as "unspecified"). Refused
    curatedly at construction across the ten vector ops; junk strings
    are curated too."""
    from ksml_spark.errors import ArityError

    rel = ["stream", probe_rel_df, {"key": "doc_id"}]
    for form, match in [
        (["ann-topk", rel, {"id": "doc_id", "vec": "text", "dim": -3,
                            "queries": "doc_id = 1"}], "dim must be >= 1"),
        (["ann-lsh-topk", rel, {"id": "doc_id", "vec": "text", "dim": 3,
                                "sign_dims": -1, "queries": "doc_id = 1"}],
         "sign_dims must be >= 1"),
        (["neardup-pairs", rel, {"id": "doc_id", "vec": "text",
                                 "lsh_dims": -2}], "lsh_dims must be >= 1"),
        (["vec-norm", rel, {"vec": "text", "dim": 0}], "dim must be >= 1"),
        (["semdedup-join", rel, rel, {"dim": -1}], "dim must be >= 1"),
        (["kmeans-centroids", rel, {"id": "doc_id", "vec": "text",
                                    "dim": 0, "init": "doc_id = 1"}],
         "dim must be >= 1"),
        (["vec-quantize", rel, {"vec": "text", "dim": "junk"}],
         "dim must be a positive int"),
    ]:
        with pytest.raises(ArityError, match=match):
            ksml(form, spark=spark)


def test_user_callback_valueerror_not_relabelled_as_arityerror(spark, probe_rel_df):
    """Ops that execute user code eagerly (batch foreach/peek/
    foreach-batch) are opted OUT of the ValueError->ArityError retype:
    a ValueError raised by the USER's callback must surface verbatim,
    not renamed after the op as if the DSL form were malformed."""
    from ksml_spark.errors import ArityError

    rel = ["stream", probe_rel_df, {"key": "doc_id"}]

    def bad_batch(df, batch_id):
        raise ValueError("user callback exploded")

    with pytest.raises(ValueError, match="user callback exploded") as ei:
        ksml(["foreach-batch", rel, bad_batch], spark=spark)
    assert not isinstance(ei.value, ArityError)


def test_defop_reregistration_invalidates_signature_cache(spark, probe_rel_df):
    """Re-registering an op (plugin/test override) with a DIFFERENT
    signature must drop the cached inspect.Signature so keval's arity
    check binds against the new rule, not the stale one."""
    from ksml_spark.eval import OPERATORS, defop

    orig = OPERATORS["peek"]
    try:
        # prime the cache with the original 3-arg signature by failing
        # an arity check against it
        rel = ["stream", probe_rel_df, {"key": "doc_id"}]
        from ksml_spark.errors import ArityError

        with pytest.raises(ArityError):
            ksml(["peek", rel], spark=spark)  # missing action operand

        @defop("peek")
        def op_peek_override(ctx, rel):  # narrower arity: no action
            return rel

        # under the OLD cached signature this same form would still be
        # an ArityError; the override makes it legal
        out = ksml(["peek", rel], spark=spark)
        assert out.df.count() == 3
    finally:
        defop("peek", retype_value_errors=False)(orig)


def test_explicit_none_option_means_unset(spark, tables):
    """The opts_of contract (r14): an explicit {"opt": None} — the
    natural output of programmatic opts-building — behaves exactly like
    omitting the key, across every option-parsing path (shared opts_of,
    _split_opts, the sink/store loops). Previously None leaked into
    option arithmetic / F.col(None) / int(None) as opaque crashes."""
    emb = ["stream", tables["embeddings"], {"key": "vec_id"}]
    docs = ["stream", tables["documents"], {"key": "doc_id"}]

    cases = [
        # (form-with-None, form-without) — results must be identical
        (["ann-lsh-topk", emb, {"id": "vec_id", "vec": "embedding",
                                "queries": "vec_id % 100 = 0",
                                "sign_dims": None, "bands": None,
                                "dim": None, "k": None}],
         ["ann-lsh-topk", emb, {"id": "vec_id", "vec": "embedding",
                                "queries": "vec_id % 100 = 0"}]),
        (["chunk", docs, {"col": "text", "size": None, "overlap": None}],
         ["chunk", docs, {"col": "text"}]),
        (["token-count", docs, {"col": "text", "mode": None}],
         ["token-count", docs, {"col": "text"}]),
        (["histogram", docs,
          {"col": "n_chars", "min": 0, "max": 1000, "bins": None}],
         ["histogram", docs, {"col": "n_chars", "min": 0, "max": 1000}]),
    ]
    for with_none, without in cases:
        a = sorted(map(tuple, ksml(with_none, spark=spark).df.collect()))
        b = sorted(map(tuple, ksml(without, spark=spark).df.collect()))
        assert a == b, f"None-option divergence in {with_none[0]}"

    # source path (_split_opts): a None key/time option reads as unset
    got = ksml(["stream", tables["nation"],
                {"key": "n_nationkey", "time": None}], spark=spark)
    assert got.df.count() == tables["nation"].count()

    # multi-dict merge order (r14 review): a LATER {"opt": None} is "as
    # if the key were absent" — it must NOT erase an EARLIER dict's real
    # value (filter-before-merge, uniform across opts_of and the bespoke
    # sites)
    from ksml_spark.operators.util import opts_of

    assert opts_of([{"k": 3}, {"k": None}]) == {"k": 3}
    assert opts_of([{"k": None}, {"k": 3}]) == {"k": 3}
    assert opts_of([{"k": 3}, {"k": 5}]) == {"k": 5}

    # consumed path: Nones inside a ["consumed", {...}] bag are dropped
    # too — {"stream": None} must not silently flip a source to batch
    from ksml_spark.operators.consumed import Consumed

    c = ksml(["consumed", {"stream": None, "x": 1}], spark=spark)
    assert isinstance(c, Consumed) and c.options == {"x": 1}


def test_pos_int_opt_contract_standalone():
    """pos_int_opt is safe for ANY caller, not just opts_of-parsed dicts
    (ADVICE r14): a present-but-None key reads the DEFAULT (None means
    "unset" engine-wide, never "bypass the default"), and the curated
    parse REFUSES values that int() would silently reinterpret — bools
    (True -> 1) and fractional floats (2.9 -> 2) — instead of passing
    with a different value than the user wrote. Integral floats and
    integer strings still parse (the DSL's numeric literals)."""
    import pytest as _pytest

    from ksml_spark.errors import ArityError
    from ksml_spark.operators.util import pos_int_opt

    # None-with-key-present == absent == default
    assert pos_int_opt({"n": None}, "n", "op", default=4) == 4
    assert pos_int_opt({}, "n", "op", default=4) == 4
    assert pos_int_opt({"n": None}, "n", "op") is None
    # value-preserving parses
    assert pos_int_opt({"n": 3}, "n", "op") == 3
    assert pos_int_opt({"n": 2.0}, "n", "op") == 2
    assert pos_int_opt({"n": "3"}, "n", "op") == 3
    # value-changing parses are refused, not reinterpreted
    for bad in (True, False, 2.9, "2.9", "junk", 0, -1):
        with _pytest.raises(ArityError, match="n must be"):
            pos_int_opt({"n": bad}, "n", "op")


def test_ngram_width_options_refused_curated(spark, tables):
    """The n-gram/shingle-width class (r14, the lsh_dims falsy-zero
    precedent): zero widths silently degraded (ngrams built empty-string
    grams; jaccard/containment fell back to plain tokens; decontaminate
    n=0 flagged EVERY doc contaminated via the shared empty gram) and
    negative widths aborted opaquely in F.slice at first action. All
    refuse curatedly now; positive widths are untouched."""
    from ksml_spark.errors import ArityError

    docs = ["stream", tables["documents"], {"key": "doc_id"}]
    bench = ["stream", tables["documents"], {"key": "doc_id"}]
    for form, match in [
        (["ngrams", docs, {"col": "text", "n": 0, "top": 5}], "n must be >= 1"),
        (["ngrams", docs, {"col": "text", "n": -1, "top": 5}], "n must be >= 1"),
        (["jaccard-pairs", docs,
          {"col": "text", "shingle": 0, "allow_full": True}],
         "shingle must be >= 1"),
        (["jaccard-pairs", docs,
          {"col": "text", "shingle": -2, "allow_full": True}],
         "shingle must be >= 1"),
        (["containment-pairs", docs,
          {"col": "text", "shingle": 0, "allow_full": True}],
         "shingle must be >= 1"),
        (["decontaminate", docs, bench, {"col": "text", "n": 0}],
         "n must be >= 1"),
        (["decontaminate", docs, bench,
          {"col": "text", "min_shared": 0}], "min_shared must be >= 1"),
    ]:
        with pytest.raises(ArityError, match=match):
            ksml(form, spark=spark)


def test_int_opt_contract_standalone():
    """int_opt (r16, closing the int(opts.get(k, d)) class the r15
    verdict counted at ~53 sites): the pos_int_opt rules generalized —
    None-safe independently of opts_of, bools / fractional floats /
    junk strings refuse curatedly instead of reinterpreting, and the
    optional lo bound covers the 0-disables guard caps (lo=0) and
    width/count options (lo=1) with one implementation."""
    import pytest as _pytest

    from ksml_spark.errors import ArityError
    from ksml_spark.operators.util import int_opt, pos_int_opt

    # None-with-key-present == absent == default; None default stays None
    assert int_opt({}, "n", "op", 7) == 7
    assert int_opt({"n": None}, "n", "op", 7) == 7
    assert int_opt({}, "n", "op") is None
    # value-preserving parses, full int range when no bound is set
    assert int_opt({"n": -3}, "n", "op", 7) == -3
    assert int_opt({"n": 0}, "n", "op", 7) == 0
    assert int_opt({"n": 2.0}, "n", "op", 7) == 2
    assert int_opt({"n": "17"}, "n", "op", 7) == 17
    # value-changing parses are refused, not reinterpreted
    for bad in (True, False, 2.9, "junk", [3]):
        with _pytest.raises(ArityError, match="n must be"):
            int_opt({"n": bad}, "n", "op", 7)
    # bounds: lo=0 (the "0 disables" guard caps) and lo=1 (widths)
    assert int_opt({"n": 0}, "n", "op", 7, lo=0) == 0
    with _pytest.raises(ArityError, match="n must be >= 0"):
        int_opt({"n": -1}, "n", "op", 7, lo=0)
    with _pytest.raises(ArityError, match="n must be >= 1"):
        int_opt({"n": 0}, "n", "op", 7, lo=1)
    # pos_int_opt is the lo=1 wrapper — one implementation, one contract
    assert pos_int_opt({"n": 4}, "n", "op") == int_opt({"n": 4}, "n", "op", lo=1)


def test_no_raw_int_opts_get_sites():
    """Grep-pin for the closed classes: zero raw ``int(opts.get(...))``
    or ``float(opts.get(...))`` sites anywhere in the package — every
    numeric option read goes through util.int_opt / pos_int_opt /
    float_opt, so the None-safety and no-reinterpretation contracts
    can't silently regress site by site (the r15 ANN-guard
    recurrence)."""
    import os
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "ksml_spark")
    pat = re.compile(r"(?:int|float|str)\((?:opts|o)\.get\(")
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(root, fn)
            if p.endswith(os.path.join("operators", "util.py")):
                continue  # the implementation documents the closed class
            for i, line in enumerate(open(p), 1):
                if pat.search(line) and not line.lstrip().startswith("#"):
                    hits.append(f"{p}:{i}: {line.strip()}")
    assert not hits, "raw int(opts.get) sites reappeared:\n" + "\n".join(hits)


def test_float_opt_contract_standalone():
    """float_opt (r16, the float sibling of the closed int class): the
    threshold/smoothing/bias surface parses through one None-safe
    implementation — bools refuse (float(True) -> 1.0 passes a
    threshold the user never wrote), NaN refuses (every comparison
    against NaN is False, silently disabling the option — the
    silent-wrong class), junk strings refuse curatedly, and
    present-but-None reads the default. Infinities stay accepted."""
    import math

    import pytest as _pytest

    from ksml_spark.errors import ArityError
    from ksml_spark.operators.util import float_opt

    assert float_opt({}, "t", "op", 0.5) == 0.5
    assert float_opt({"t": None}, "t", "op", 0.5) == 0.5
    assert float_opt({}, "t", "op") is None
    assert float_opt({"t": 2}, "t", "op", 0.5) == 2.0
    assert float_opt({"t": "0.9"}, "t", "op", 0.5) == 0.9
    assert float_opt({"t": float("inf")}, "t", "op") == math.inf
    for bad in (True, False, "junk", [0.5]):
        with _pytest.raises(ArityError, match="t must be a number"):
            float_opt({"t": bad}, "t", "op", 0.5)
    for nan in (float("nan"), "nan"):
        with _pytest.raises(ArityError, match="NaN"):
            float_opt({"t": nan}, "t", "op", 0.5)


def test_float_threshold_options_refused_curated(spark, tables):
    """The class applied end-to-end: a NaN or boolean threshold /
    smoothing refuses at construction on representative ops from each
    family instead of silently disabling the comparison."""
    from ksml_spark.errors import ArityError

    docs = ["stream", tables["documents"], {"key": "doc_id"}]
    embs = ["stream", tables["embeddings"], {"key": "vec_id"}]
    for form, match in [
        (["jaccard-pairs", docs,
          {"col": "text", "threshold": float("nan"), "allow_full": True}],
         "NaN"),
        (["neardup-pairs", embs,
          {"id": "vec_id", "vec": "embedding", "dim": 64,
           "threshold": True, "allow_full": True}],
         "threshold must be a number"),
        (["dsir", docs, docs, {"smoothing": "hot"}],
         "smoothing must be a number"),
        (["classify", docs, {"weights": {0: 1.0}, "buckets": 16,
                             "threshold": float("nan")}],
         "NaN"),
    ]:
        with pytest.raises(ArityError, match=match):
            ksml(form, spark=spark)


def test_str_opt_contract_standalone():
    """str_opt (r16, the string sibling): the dangerous case is the
    SALT surface — str(None) is the literal 'None', which silently
    re-draws every hash-split/sample/mix assignment. None-safe; ints
    coerce faithfully; bools and other types refuse; choices enforce
    enums curatedly."""
    import pytest as _pytest

    from ksml_spark.errors import ArityError
    from ksml_spark.operators.util import str_opt

    assert str_opt({}, "salt", "op", "") == ""
    assert str_opt({"salt": None}, "salt", "op", "") == ""
    assert str_opt({}, "salt", "op") is None
    assert str_opt({"salt": "v1"}, "salt", "op", "") == "v1"
    assert str_opt({"salt": 42}, "salt", "op", "") == "42"
    for bad in (True, False, 1.5, ["x"]):
        with _pytest.raises(ArityError, match="salt must be a string"):
            str_opt({"salt": bad}, "salt", "op", "")
    assert str_opt({"m": "warn"}, "m", "op", choices=("warn", "error")) == "warn"
    with _pytest.raises(ArityError, match="must be one of"):
        str_opt({"m": "loud"}, "m", "op", choices=("warn", "error"))


_RETIRED_IMPL_OPTS = [
    # (op, extra operand?, retired key, every value it used to take,
    #  other options, what the message names as the replacement)
    ("bpe-encode", True, "impl", ("perrow", "distinct"), {},
     "per-row encoding is the only implementation"),
    ("lsh-join", True, "impl", ("auto", "md5", "km", "expr"), {},
     "hash family follows the inputs"),
    ("transform-with-state", False, "impl", ("auto", "native", "shim"), {},
     "native operator runs when google.protobuf is installed"),
    ("ann-ivf-topk", False, "assign_impl", ("auto", "expr", "blas"),
     {"id": "doc_id", "vec": "embedding", "dim": 3,
      "queries": "doc_id = 0", "centroids": "doc_id = 1"},
     "assignment path follows the centroid count"),
    ("kmeans-assign", False, "assign_impl", ("auto", "expr", "blas"),
     {"id": "doc_id", "vec": "embedding", "dim": 3, "centroids": "doc_id = 1"},
     "assignment path follows the centroid count"),
    ("semdedup", False, "assign_impl", ("auto", "expr", "blas"),
     {"id": "doc_id", "vec": "embedding", "dim": 3, "centroids": "doc_id = 1"},
     "semdedup assigns with the expression plan"),
    # the caching hints: the engine picks the storage level, and an
    # input read more than once is pinned by an upstream persist op
    ("jaccard-pairs", False, "storage", ("memory", "disk"), {},
     "operator pins DISK_ONLY"),
    ("containment-pairs", False, "storage", ("memory", "disk"), {},
     "operator pins DISK_ONLY"),
    ("near-dedup", False, "storage", ("memory", "disk"), {},
     "operator pins DISK_ONLY"),
    ("lsh-candidates", False, "storage", ("memory", "disk"), {},
     "operator pins DISK_ONLY"),
    ("semdedup", False, "storage", ("memory", "disk"),
     {"id": "doc_id", "vec": "embedding", "dim": 3, "centroids": "doc_id = 1"},
     "operator pins DISK_ONLY"),
    ("semdedup-join", True, "storage", ("memory", "disk"),
     {"id": "doc_id", "vec": "embedding", "dim": 3, "centroids": "doc_id = 1"},
     "operator pins DISK_ONLY"),
    ("persist", False, "storage", ("memory", "disk"), {},
     "operator pins DISK_ONLY"),
    ("pack-chunks", False, "persist", (True, False), {"tokens": "n"},
     "upstream, which pins it in the bounded registry"),
    ("dedup-paragraphs", False, "persist", (True, False), {},
     "upstream, which pins it in the bounded registry"),
    ("lm-score", False, "persist", (True, False), {},
     "upstream, which pins it in the bounded registry"),
    # jaccard-pairs' plan knobs: the plan follows its estimated index
    ("jaccard-pairs", False, "prefix", (True, False, "auto"), {},
     "picks the prefix plan when the estimated postings reach"),
    ("jaccard-pairs", False, "auto_threshold", (1, 50_000_000), {},
     "picks the prefix plan when the estimated postings reach"),
    ("jaccard-pairs", False, "hot_ratio", (1.0, 4.0), {},
     "picks the prefix plan when the estimated postings reach"),
    ("jaccard-pairs", False, "hot_min_pairs", (100_000, 2_000_000), {},
     "picks the prefix plan when the estimated postings reach"),
]


@pytest.mark.parametrize(
    "op, operand, key, values, opts, replacement", _RETIRED_IMPL_OPTS,
    ids=[f"{r[0]}-{r[2]}" for r in _RETIRED_IMPL_OPTS])
def test_retired_impl_options_refused_naming_replacement(
        spark, probe_rel_df, op, operand, key, values, opts, replacement):
    """The user-set implementation switches and caching hints are gone —
    each op picks its path from what it observes (streaming inputs,
    protobuf, centroid count) and pins DISK_ONLY where it pins at all.
    Every value the retired option used to take is refused at
    construction with the curated ArityError naming what replaced it."""
    from ksml_spark.errors import ArityError

    rel = ["stream", probe_rel_df, {"key": "doc_id"}]
    for value in values:
        form = [op, rel, *([rel] if operand else []), dict(opts, **{key: value})]
        with pytest.raises(ArityError,
                           match=f"{op}: option '{key}' was removed — .*{replacement}"):
            ksml(form, spark=spark)


_MALFORMED_PAIR_FORMS = [
    # (case, op, options, what the curated message names)
    ("jaccard-int-block", "jaccard-pairs", {"block": 5},
     "block must be a SQL expression"),
    ("containment-int-block", "containment-pairs", {"block": 5},
     "block must be a SQL expression"),
    ("near-dedup-int-block", "near-dedup", {"block": 5},
     "block must be a SQL expression"),
    ("jaccard-int-in-block-list", "jaccard-pairs", {"block": ["lang", 5]},
     "block must be a SQL expression"),
    ("jaccard-missing-id", "jaccard-pairs", {"id": "nope"},
     "id 'nope' is not a column"),
    ("containment-missing-id", "containment-pairs", {"id": "nope"},
     "id 'nope' is not a column"),
    ("near-dedup-missing-id", "near-dedup", {"id": "nope"},
     "id 'nope' is not a column"),
    ("jaccard-missing-col", "jaccard-pairs", {"col": "nope"},
     "col 'nope' is not a column"),
    ("containment-missing-col", "containment-pairs", {"col": "nope"},
     "col 'nope' is not a column"),
    ("near-dedup-missing-col", "near-dedup", {"col": "nope"},
     "col 'nope' is not a column"),
    ("dup-clusters-missing-a", "dup-clusters", {"a": "nope", "b": "user_id"},
     "a 'nope' is not a column"),
    ("dup-clusters-missing-b", "dup-clusters", {"a": "doc_id", "b": "nope"},
     "b 'nope' is not a column"),
    ("dup-clusters-zero-max-iter", "dup-clusters",
     {"a": "doc_id", "b": "user_id", "max_iter": 0}, "max_iter must be >= 1"),
]


@pytest.mark.parametrize(
    "op, opts, message", [r[1:] for r in _MALFORMED_PAIR_FORMS],
    ids=[r[0] for r in _MALFORMED_PAIR_FORMS])
def test_malformed_pair_operator_forms_refused_at_construction(
        spark, probe_rel_df, op, opts, message):
    """A block that is not a SQL expression or a list of them, an id or
    text column the input lacks, a dup-clusters endpoint that is not a
    column and ``max_iter: 0`` each raise the curated ArityError when
    the form is built, not a raw TypeError or an unresolved-column
    AnalysisException."""
    from ksml_spark.errors import ArityError

    with pytest.raises(ArityError, match=message):
        ksml([op, ["stream", probe_rel_df, {"key": "doc_id"}], opts], spark=spark)

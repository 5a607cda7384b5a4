"""corpus_batch: a closed loop of training-corpus preparation jobs.

Pipeline: ``quality-score`` -> ``where`` -> normalize -> ``dedup`` ->
``near-dedup`` (verified Jaccard) -> ``hash-split`` -> ``token-count`` ->
group/``agg``, written to parquet and read back. The next job starts when
the previous one's result has been verified.

The ``functions`` expression library, the dedup pair and cluster
operators and the shuffles do the work; streaming and serving sit idle,
so this workload is the no-change control for them.
"""

from __future__ import annotations

import math
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import loadgen
from perfbench.harness import Failed, group_counts, percentile

DOCS = 500
WARM_DOCS = 50
NEAR_THRESHOLD = 0.8
NORM = "array_join(filter(split(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')"
FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}
JOB_GROUP = "perfbench-corpus-job"
# a run makes ceil(seconds / JOB_S) jobs: a count fixed by the run length,
# not by how many jobs fit, so the job percentiles mean the same on a fast
# machine and a slow one (jobs take 5-6 s on 4 cores)
JOB_S = 4.0

# (name, steps): each stage ends where the next prefix starts; the traced
# run times the prefixes to split a job's time between the stages
STAGES = [
    ("quality", [["quality-score", {"col": "text"}],
                 ["where", "round(quality, 6) >= 0.5"]]),
    ("exact_dedup", [["select", {"doc_id": "doc_id", "lang": "lang", "text": "text",
                                 "norm": NORM}],
                     ["dedup", {"by": ["norm"], "order": ["doc_id"]}]]),
    ("near_dedup", [["near-dedup", {"col": "norm", "id": "doc_id",
                                    "threshold": NEAR_THRESHOLD}]]),
    ("accounting", [["hash-split", {"id": "doc_id", "salt": "v1", "fractions": FRACTIONS}],
                    ["token-count", {"col": "text"}],
                    ["group-by", ["key-value-mapper", {"split": "split", "lang": "lang"}]],
                    ["agg", {"n_docs": "count(1)", "tokens": "sum(n_tokens_ws)",
                             "id_sum": "sum(doc_id)"}]]),
]


def job_form(path: str, stages: int = len(STAGES)) -> list:
    from ksml_spark import vthread

    steps = [s for _, st in STAGES[:stages] for s in st]
    return vthread(["stream", ["parquet", path], {"key": "doc_id"}], *steps)


# The exact-dedup accounting, after the _CORPUS_PREP_ORACLE pattern of
# __spark_entry__.py: quality-gate failures and near-duplicate losers come
# from the generator's ground truth, exact dedup and the hash split are
# recomputed here.
ORACLE = r"""
WITH kept AS (
  SELECT doc_id, lang, text,
         array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> ''), ' ') AS norm
  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM low_quality)
),
uniq AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
                 FROM kept) WHERE rn = 1
),
final AS (SELECT * FROM uniq WHERE doc_id NOT IN (SELECT doc_id FROM near_losers)),
sp AS (
  SELECT doc_id, lang, text,
    CASE WHEN b < 3865470566 THEN 'train'
         WHEN b < 4080218931 THEN 'val'
         ELSE 'test' END AS split
  FROM (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR || 'v1'), 1, 8))::BIGINT AS b
        FROM final)
)
SELECT split, lang, count(*) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT)
         AS tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM sp GROUP BY 1, 2"""


def expected(corpus: loadgen.Corpus) -> dict:
    """(split, lang) -> (n_docs, tokens, id_sum) by the DuckDB oracle."""
    con = duckdb.connect()
    try:
        con.register("documents", corpus.table())
        con.register("low_quality", pa.table({"doc_id": pa.array(
            sorted(corpus.low_quality), pa.int64())}))
        losers = sorted(i for g in corpus.near_groups for i in g if i != min(g))
        con.register("near_losers", pa.table({"doc_id": pa.array(losers, pa.int64())}))
        rows = con.execute(ORACLE).fetchall()
        removed = con.execute(
            "SELECT count(*) - count(DISTINCT array_to_string(list_filter("
            "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) "
            "FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM low_quality)").fetchone()[0]
    finally:
        con.close()
    planted = sum(len(g) - 1 for g in corpus.exact_groups)
    if removed != planted:
        raise Failed(f"oracle removes {removed} exact duplicates, generator planted {planted}")
    return {(s, l): (n, t, i) for s, l, n, t, i in rows}


def write_corpus(b, d: str, seed: int, n: int) -> tuple:
    corpus = loadgen.make_corpus(seed, n)
    path = b.path(d, f"docs-{n}.parquet")
    pq.write_table(corpus.table(), path)
    return corpus, path


def run_job(b, path: str, out: str, trace: str) -> dict:
    """One job: build the form (eval may start jobs eagerly), write the
    result to parquet and read it back."""
    from ksml_spark import ksml, release_pinned

    rel = b.build(job_form(path), trace=trace)
    with b.tracer.span("operators.execute", trace):
        ksml(["to", rel, {"format": "parquet", "path": out, "mode": "overwrite"}],
             spark=b.spark)
    rows = pq.read_table(out).to_pylist()
    release_pinned()
    return {(r["split"], r["lang"]): (r["n_docs"], r["tokens"], r["id_sum"]) for r in rows}


def setup(b, i: int) -> dict:
    """Generate the corpus and its expected result, and warm the pipeline
    up on a small corpus of its own."""
    d = f"setup{i}"
    corpus, path = write_corpus(b, d, b.seed * 3571 + 1, DOCS)
    want = expected(corpus)
    warm, wpath = write_corpus(b, d, b.seed * 3571 + 2, WARM_DOCS)
    if run_job(b, wpath, b.path(d, "warm-out"), "warm") != expected(warm):
        raise Failed("warm-up corpus result differs from the oracle")
    return {"dir": d, "path": path, "want": want, "docs": len(corpus.doc_id)}


def measure(b, st: dict) -> dict:
    times, bad = [], 0
    with b.job_group(JOB_GROUP):
        for _ in range(math.ceil(b.seconds / JOB_S)):
            b.settle()
            t0 = time.perf_counter()
            got = run_job(b, st["path"], b.path(st["dir"], f"out-{len(times)}"),
                          f"job-{len(times)}")
            times.append(time.perf_counter() - t0)
            bad += got != st["want"]
    b.tally(len(times), bad)
    for k in ("eval.build_ms", "eval.forms", "eval.eager_jobs"):  # per job
        if k in b.layer:
            b.layer[k] /= len(times)
    docs_per_s = st["docs"] * len(times) / sum(times)
    p50 = percentile([t * 1000.0 for t in times], 50)
    tail = max(times) * 1000.0
    b.named.update({
        "docs_per_s": (docs_per_s, "docs/s"),
        "job_latency_p50_ms": (p50, "ms"),
        "job_latency_max_ms": (tail, "ms"),
        "jobs_measured": (float(len(times)), "count"),
    })
    if b.tracing:
        # a job's Spark work: what eval started eagerly plus the write
        jc = group_counts(b.spark, JOB_GROUP)
        b.layer.update({"operators.jobs": (jc.jobs + b.eager.jobs) / len(times),
                        "operators.stages": (jc.stages + b.eager.stages) / len(times),
                        "operators.tasks": (jc.tasks + b.eager.tasks) / len(times)})
    return {
        "latency_p50_ms": p50,
        "latency_tail_ms": tail,
        "event_latency_p50_ms": p50,
        "throughput_per_s": docs_per_s,
        "jobs": len(times),
    }


def trace_stages(b, st: dict, e2e: dict) -> None:
    """Traced run only, after the measured phase: split a job's time
    between its stages by timing each prefix of the pipeline to a no-op
    sink, and count the near-duplicate pairs the verified-Jaccard stage
    confirms."""
    from ksml_spark import ksml, release_pinned

    job_ms = e2e["latency_p50_ms"]
    prefix_ms = []
    for k in range(1, len(STAGES)):
        runs = []
        for _ in range(2):  # the faster of two, as a single run is noisy
            t0 = time.perf_counter()
            ksml(["to", job_form(st["path"], k), {"format": "noop"}], spark=b.spark)
            runs.append((time.perf_counter() - t0) * 1000.0)
            release_pinned()
        prefix_ms.append(min(runs))
    bounds = [0.0] + prefix_ms + [job_ms]
    for (name, _), lo, hi in zip(STAGES, bounds, bounds[1:]):
        b.layer[f"operators.{name}_ms"] = max(0.0, hi - lo)
    pairs = ksml(["jaccard-pairs", job_form(st["path"], 2),
                  {"col": "norm", "id": "doc_id", "threshold": NEAR_THRESHOLD}], spark=b.spark)
    b.layer["operators.pairs_verified"] = pairs.df.count()
    release_pinned()

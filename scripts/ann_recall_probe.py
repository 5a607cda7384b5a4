"""Measured recall/speed trade of the approximate ANN paths.

SCALE.md's ann-lsh dims-scaling note says "the recall trade moves with
it (more hyperplanes = more straddled pairs missed)" — argued from the
LSH construction, not measured. This probe measures it: recall@k of
ann-lsh-topk (sign_dims sweep) and ann-ivf-topk (nprobe sweep) against
ann-topk exact brute-force ground truth on the driver testdata.

    python scripts/ann_recall_probe.py [sf_dir] [k]

Method: ground truth = ann-topk (exact cosine) top-k per query; a
variant's recall@k = |variant top-k ∩ true top-k| / k, averaged over
queries (a variant returning fewer than k rows — a bucket smaller than
k — is penalized naturally). Timing = wall seconds of the variant's
noop-sink run AFTER one untimed warm pass (min of 2 timed).

Caveat recorded with the results: the synthetic embeddings are i.i.d.
uniform, the WORST case for sign-LSH (no cluster structure, cosines
concentrate near 0, near-ties everywhere), so these recalls are a
floor — real embedding corpora are clustered and bucket neighbors
together. The probe's value is the RANKING between variants and the
shape of the recall-vs-dims / recall-vs-nprobe curves.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ksml_spark import get_spark, pipe  # noqa: E402
from ksml_spark.sources.files import load_table  # noqa: E402

QUERIES = "vec_id % 50 = 0"


def run(spark, sf_dir, form):
    rel = pipe(
        ["stream", load_table(spark, sf_dir, "embeddings"), {"key": "vec_id"}],
        form,
        spark=spark,
    )
    rel.df.write.mode("overwrite").format("noop").save()  # warm
    best = None
    for _ in range(2):
        t0 = time.time()
        rel.df.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    rows = rel.df.collect()
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r["q_id"], set()).add(r["n_id"])
    return out, round(best, 3)


def recall(approx: dict[int, set], truth: dict[int, set], k: int) -> float:
    if not truth:
        return float("nan")
    return round(
        sum(len(approx.get(q, set()) & t) / k for q, t in truth.items())
        / len(truth),
        4,
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark(app_name="ann-recall-probe")
    base = {"id": "vec_id", "vec": "embedding", "dim": 64, "k": k,
            "queries": QUERIES}

    truth, t_brute = run(spark, sf_dir, ["ann-topk", dict(base)])
    n_q = len(truth)
    print(f"# ground truth: ann-topk k={k}, {n_q} queries, {t_brute}s")
    print("| variant | recall@%d | sec | vs brute |" % k)
    print("|---|---|---|---|")
    print(f"| ann-topk (exact) | 1.0000 | {t_brute} | 1.00x |")

    for dims in (4, 8, 11, 13):
        approx, t = run(
            spark, sf_dir,
            ["ann-lsh-topk", dict(base, sign_dims=dims)],
        )
        print(f"| ann-lsh sign_dims={dims} | {recall(approx, truth, k)} "
              f"| {t} | {round(t / t_brute, 2)}x |")

    for r, b in ((4, 4), (4, 8), (4, 16), (8, 8)):
        approx, t = run(
            spark, sf_dir,
            ["ann-lsh-topk", dict(base, sign_dims=r, bands=b)],
        )
        print(f"| ann-lsh r={r} bands={b} | {recall(approx, truth, k)} "
              f"| {t} | {round(t / t_brute, 2)}x |")

    for nprobe in (1, 2, 4, 8):
        approx, t = run(
            spark, sf_dir,
            ["ann-ivf-topk", dict(base, centroids="vec_id % 127 = 3",
                                  nprobe=nprobe)],
        )
        print(f"| ann-ivf nprobe={nprobe} | {recall(approx, truth, k)} "
              f"| {t} | {round(t / t_brute, 2)}x |")

    neardup_recall(spark)
    semdedup_join_recall(spark)
    minhash_candidate_recall(spark, sf_dir)
    simhash_proxy_recall(spark)


def simhash_proxy_recall(spark):
    """SimHash's contract (pairs within max_hamming) is EXACT — the
    4-band pigeonhole candidates provably cover hamming <= 3 and the
    bit_count check is literal. What is approximate is hamming as a
    PROXY for set similarity, so that is what gets measured: on the
    planted prefix-overlap corpus, the fraction of true
    shingle-jaccard pairs the op returns at each max_hamming."""
    import random

    from ksml_spark import ksml
    from ksml_spark.operators.dedup import SHINGLE_K

    rng = random.Random(5)
    rows, sets = [], {}

    def shingle_set(text):
        toks = text.split(" ")
        if len(toks) < SHINGLE_K:
            return {text}
        return {" ".join(toks[i:i + SHINGLE_K])
                for i in range(len(toks) - SHINGLE_K + 1)}

    for i in range(300):
        base = [f"w{rng.randrange(4000)}" for _ in range(60)]
        keep = rng.randrange(15, 56)
        partner = base[:keep] + [f"p{i}_{j}" for j in range(60 - keep)]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(partner)))
        sets[2 * i] = shingle_set(" ".join(base))
        sets[2 * i + 1] = shingle_set(" ".join(partner))
    pdf = spark.createDataFrame(rows, "doc_id long, text string")
    truth = {}
    for i in range(300):
        a, b = sets[2 * i], sets[2 * i + 1]
        truth[(2 * i, 2 * i + 1)] = len(a & b) / len(a | b)

    print("\n# simhash hamming-as-similarity proxy, planted pairs "
          "(recall of true-jaccard buckets at each max_hamming)")
    header = ["| true jaccard | pairs |"]
    ks = (1, 2, 3)
    got_by_k = {}
    for k in ks:
        out = ksml(["simhash-pairs", ["stream", pdf, {"key": "doc_id"}],
                    {"col": "text", "id": "doc_id", "max_hamming": k}],
                   spark=spark)
        got_by_k[k] = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
                       for r in out.df.collect()}
        header.append(f" h<={k} |")
    print("".join(header))
    print("|---|---|" + "---|" * len(ks))
    for lo, hi in ((0.3, 0.5), (0.5, 0.7), (0.7, 0.9), (0.9, 1.01)):
        bucket = [p for p, j in truth.items() if lo <= j < hi]
        if not bucket:
            continue
        cells = []
        for k in ks:
            got = sum(1 for p in bucket if p in got_by_k[k])
            cells.append(f" {round(got / len(bucket), 4)} |")
        print(f"| [{lo},{min(hi, 1.0)}) | {len(bucket)} |" + "".join(cells))

    # simhash's REAL operating regime — near-identical long documents
    # (the crawl-dedup use case): 400-token docs with e token edits;
    # feature sharing ~ (400-e)/(400+e), expected hamming ~
    # 64*arccos(corr)/pi — k<=3 implies ~99% sharing
    rows2 = []
    edits_of = {}
    for i in range(60):
        base = [f"w{rng.randrange(4000)}" for _ in range(400)]
        for gi, e in enumerate((1, 2, 4, 8, 16)):
            doc = list(base)
            for j in range(e):
                doc[rng.randrange(400)] = f"e{i}_{gi}_{j}"
            a, b = 1000 * (5 * i + gi), 1000 * (5 * i + gi) + 1
            rows2.append((a, " ".join(base)))
            rows2.append((b, " ".join(doc)))
            edits_of[(a, b)] = e
    pdf2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got2 = {}
    for k in ks:
        out = ksml(["simhash-pairs", ["stream", pdf2, {"key": "doc_id"}],
                    {"col": "text", "id": "doc_id", "max_hamming": k}],
                   spark=spark)
        got2[k] = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
                   for r in out.df.collect()}
    print("\n# simhash near-identical regime: 400-token docs, e token "
          "edits (60 pairs per e)")
    print("| edits | ~jaccard |" + "".join(f" h<={k} |" for k in ks))
    print("|---|---|" + "---|" * len(ks))
    for e in (1, 2, 4, 8, 16):
        bucket = [p for p, pe in edits_of.items() if pe == e]
        j = round((400 - e) / (400 + e), 3)
        cells = [f" {round(sum(1 for p in bucket if p in got2[k]) / len(bucket), 3)} |"
                 for k in ks]
        print(f"| {e} | ~{j} |" + "".join(cells))


def minhash_candidate_recall(spark, sf_dir):
    """Candidate recall of the FIXED MinHash family (4 bands x 4 rows,
    the engine-portable md5 construction shared with the DuckDB
    oracle) vs exact shingle-set Jaccard, bucketed by true similarity.
    Expected S-curve: P(candidate) = 1 - (1 - s^4)^4. Truth is a
    Python postings-intersection over the documents table's 3-word
    shingle sets (exactly shingles_col's construction, short docs
    falling back to the whole text)."""
    from collections import Counter

    from ksml_spark import ksml
    from ksml_spark.operators.dedup import SHINGLE_K
    from ksml_spark.sources.files import load_table

    docs = {r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents")
            .select("doc_id", "text").collect() if r["text"] is not None}

    def shingle_set(text):
        toks = text.split(" ")
        if len(toks) < SHINGLE_K:
            return {text}
        return {" ".join(toks[i:i + SHINGLE_K])
                for i in range(len(toks) - SHINGLE_K + 1)}

    sets = {i: shingle_set(t) for i, t in docs.items()}
    postings = {}
    for i, s in sets.items():
        for sh in s:
            postings.setdefault(sh, []).append(i)
    inter = Counter()
    for ids in postings.values():
        if len(ids) < 2 or len(ids) > 200:   # hyper-common shingle cap
            continue
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                inter[(ids[a], ids[b])] += 1
    truth = {}
    for (a, b), c in inter.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= 0.3:
            truth[(a, b) if a < b else (b, a)] = j

    out = ksml(["lsh-candidates",
                ["stream", load_table(spark, sf_dir, "documents"),
                 {"key": "doc_id"}],
                {"col": "text", "id": "doc_id"}], spark=spark)
    cands = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
             for r in out.df.collect()}

    print(f"\n# minhash candidate recall vs exact shingle Jaccard "
          f"({len(truth)} true pairs >= 0.3; family fixed at 4x4)")
    _recall_table(truth, cands)

    # the documents table has no mid-similarity pairs, so the S-curve's
    # interesting region is measured on a PLANTED corpus: doc pairs
    # sharing a controlled token prefix, spreading true shingle
    # jaccard across ~0.2-0.9
    import random

    rng = random.Random(5)
    rows, planted_sets = [], {}
    for i in range(300):
        base = [f"w{rng.randrange(4000)}" for _ in range(60)]
        keep = rng.randrange(15, 56)
        partner = base[:keep] + [f"p{i}_{j}" for j in range(60 - keep)]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(partner)))
        planted_sets[2 * i] = shingle_set(" ".join(base))
        planted_sets[2 * i + 1] = shingle_set(" ".join(partner))
    pdf = spark.createDataFrame(rows, "doc_id long, text string")
    ptruth = {}
    for i in range(300):
        a, b = planted_sets[2 * i], planted_sets[2 * i + 1]
        j = len(a & b) / len(a | b)
        if j >= 0.1:
            ptruth[(2 * i, 2 * i + 1)] = j
    pout = ksml(["lsh-candidates", ["stream", pdf, {"key": "doc_id"}],
                 {"col": "text", "id": "doc_id"}], spark=spark)
    pcands = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
              for r in pout.df.collect()}
    print(f"\n# minhash candidate recall, planted prefix-overlap pairs "
          f"({len(ptruth)} pairs)")
    _recall_table(ptruth, pcands,
                  buckets=((0.1, 0.3), (0.3, 0.5), (0.5, 0.7),
                           (0.7, 0.9), (0.9, 1.01)))


def _recall_table(truth, cands,
                  buckets=((0.3, 0.5), (0.5, 0.7), (0.7, 0.9), (0.9, 1.01))):
    print("| true jaccard | pairs | recall | S-curve 1-(1-s^4)^4 |")
    print("|---|---|---|---|")
    for lo, hi in buckets:
        bucket = [p for p, j in truth.items() if lo <= j < hi]
        if not bucket:
            continue
        got = sum(1 for p in bucket if p in cands)
        mid = (lo + min(hi, 1.0)) / 2
        pred = 1 - (1 - mid ** 4) ** 4
        print(f"| [{lo},{min(hi, 1.0)}) | {len(bucket)} | "
              f"{round(got / len(bucket), 4)} | {round(pred, 3)} (at s={mid}) |")


def semdedup_join_recall(spark):
    """Dup-detection recall of semdedup-join's single-cluster test vs
    the {'nprobe': p} widened test, on planted near-duplicates: 800
    reference vectors, left = 400 noisy copies (cosine ~0.94) + 400
    novel, threshold 0.9; truth = left rows with ANY exact reference
    cosine over the threshold (numpy). Precision is 1.0 by
    construction (the exact cosine still gates every flag)."""
    import numpy as np

    from ksml_spark import ksml

    rng = np.random.default_rng(11)
    ref = rng.standard_normal((800, 64))
    left = np.vstack([ref[:400] + 0.35 * rng.standard_normal((400, 64)),
                      rng.standard_normal((400, 64))])
    refdf = spark.createDataFrame(
        [(i, [float(x) for x in ref[i]]) for i in range(len(ref))],
        "vec_id long, embedding array<double>")
    leftdf = spark.createDataFrame(
        [(i, [float(x) for x in left[i]]) for i in range(len(left))],
        "vec_id long, embedding array<double>")
    Ln = left / np.linalg.norm(left, axis=1)[:, None]
    Rn = ref / np.linalg.norm(ref, axis=1)[:, None]
    truth = set(np.flatnonzero(((Ln @ Rn.T) >= 0.9 - 1e-12).any(axis=1)))
    print(f"\n# semdedup-join planted duplicates: {len(truth)} true dups")
    print("| K | nprobe | dup recall | false flags |")
    print("|---|---|---|---|")
    for cexpr, klabel in (("vec_id % 53 = 3", "~15"), ("vec_id % 13 = 3", "~62")):
        for p in (1, 2, 4, 8):
            out = ksml(
                ["semdedup-join", ["stream", leftdf, {"key": "vec_id"}],
                 ["stream", refdf, {"key": "vec_id"}],
                 {"id": "vec_id", "vec": "embedding", "dim": 64,
                  "threshold": 0.9, "centroids": cexpr, "nprobe": p}],
                spark=spark)
            flagged = {r["vec_id"] for r in out.df.collect()
                       if r["keep"] is False}
            print(f"| {klabel} | {p} | "
                  f"{round(len(flagged & truth) / len(truth), 4)} | "
                  f"{len(flagged - truth)} |")


def neardup_recall(spark):
    """Pair recall of neardup-pairs blocking modes on PLANTED
    near-duplicates: 800 base vectors + 400 noisy copies at cosine
    ~0.94, threshold 0.9; truth = the exact allow_full pair set."""
    import numpy as np

    from ksml_spark import ksml

    rng = np.random.default_rng(7)
    b0 = rng.standard_normal((800, 64))
    noisy = b0[:400] + 0.35 * rng.standard_normal((400, 64))
    vecs = np.vstack([b0, noisy])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = ["stream", df, {"key": "vec_id"}]
    base = {"id": "vec_id", "vec": "embedding", "dim": 64, "threshold": 0.9}

    def pairs(extra):
        t0 = time.time()
        out = ksml(["neardup-pairs", src, dict(base, **extra)], spark=spark)
        got = {(x["id_a"], x["id_b"]) for x in out.df.collect()}
        return got, round(time.time() - t0, 3)

    truth, t_full = pairs({"allow_full": True})
    print(f"\n# neardup planted duplicates: {len(truth)} true pairs "
          f"(allow_full exact, {t_full}s)")
    print("| blocking | pair recall | sec |")
    print("|---|---|---|")
    print(f"| allow_full (exact) | 1.000 | {t_full} |")
    for extra, label in [
        ({"lsh_dims": 8}, "lsh_dims=8"),
        ({"lsh_dims": 8, "bands": 4}, "lsh_dims=8 bands=4"),
        ({"lsh_dims": 8, "bands": 8}, "lsh_dims=8 bands=8"),
        ({"lsh_dims": 4, "bands": 16}, "lsh_dims=4 bands=16"),
    ]:
        got, t = pairs(extra)
        assert got <= truth
        print(f"| {label} | {round(len(got) / len(truth), 4)} | {t} |")


if __name__ == "__main__":
    main()

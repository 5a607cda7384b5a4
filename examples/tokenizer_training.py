"""Tokenizer training on the corpus — BPE end-to-end (Sennrich et al.
2016), the way a pretraining data job prepares its vocabulary:

    clean corpus -> bpe-train (merge table) -> bpe-encode (tokens)
    -> exact per-doc token counts under the REAL trained vocabulary

The Spark shape is the point: `bpe-train` scans the corpus ONCE into a
bounded (word, frequency) vocabulary and loops merges driver-side, so
the same call trains on 100 TB; `bpe-encode` broadcasts the merge
table and tokenizes with an Arrow-batched greedy encoder —
streaming-legal, so the frozen tokenizer can score a live stream.

Tokenizer caveat: the default pre-tokenization split is ASCII-only
([^a-z0-9]+), so NON-LATIN documents (zh/ja, Cyrillic) contribute
nothing to the vocabulary and their token counts read 0 here. For a
multilingual corpus pass {"tokenizer": "unicode"} to BOTH bpe-train
and bpe-encode — non-Latin words then get character-level BPE
fallback. bpe-encode memoizes words within each Arrow batch, so the
merge loop runs once per distinct word per batch.

Run:  python examples/tokenizer_training.py [sf_dir] [merges]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ksml_spark import get_spark, ksml, pipe  # noqa: E402
from ksml_spark.sources.files import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    merges = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    spark = get_spark(app_name="ksml-tokenizer-training")
    docs = load_table(spark, sf_dir, "documents")

    # 1. train the merge table on the corpus (one scan + driver loop)
    table = ksml(
        ["bpe-train", ["stream", docs, {"key": "doc_id"}],
         {"col": "text", "merges": merges, "min_freq": 2}],
        spark=spark,
    )
    print(f"--- first 10 of {merges} merges ---")
    table.df.orderBy("rank").show(10, truncate=False)

    # 2. apply it: per-document BPE tokens + exact token counts
    encoded = ksml(
        ["bpe-encode", ["stream", docs, {"key": "doc_id"}], table,
         {"col": "text", "as": "bpe_tokens"}],
        spark=spark,
    )
    counts = pipe(
        ["stream", encoded.df, {"key": "doc_id"}],
        ["select", {"doc_id": "doc_id", "n_chars": "n_chars",
                    "n_bpe_tokens": "size(bpe_tokens)"}],
        spark=spark,
    )
    print("--- per-doc token counts under the trained vocabulary ---")
    counts.df.orderBy("doc_id").show(10)
    print("--- corpus compression: chars per BPE token ---")
    counts.df.selectExpr(
        "round(sum(n_chars) / sum(n_bpe_tokens), 2) AS chars_per_token",
        "sum(n_bpe_tokens) AS total_tokens",
    ).show()


if __name__ == "__main__":
    main()

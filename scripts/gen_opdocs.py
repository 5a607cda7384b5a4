"""Generate docs/OPERATORS.md from the live operator registry — one row
per registered op with its implementing function and docstring summary.

    python scripts/gen_opdocs.py     # rewrite docs/OPERATORS.md

``render()`` builds the text without writing it;
tests/test_eval.py::test_operator_docs_match_registry compares it with
the committed file."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ksml_spark import OPERATORS  # noqa: E402
import ksml_spark.operators  # noqa: F401,E402  (registers everything)


OUT = os.path.join(ROOT, "docs", "OPERATORS.md")


def _by_impl() -> dict:
    """{implementing function: [form names]} — aliases share a row."""
    seen: dict = {}
    for name, fn in sorted(OPERATORS.items()):
        seen.setdefault(fn, []).append(name)
    return seen


def render() -> str:
    """The full docs/OPERATORS.md text for the live registry."""
    seen = _by_impl()
    lines = [
        "# Operator reference",
        "",
        "Generated by `scripts/gen_opdocs.py` from the live registry —",
        "every form accepted by `ksml(...)`. Aliases share a row.",
        "",
        "## Option semantics: explicit None means \"unset\"",
        "",
        "Every operator form may carry one or more option dicts; they merge",
        "left-to-right with **last wins** — except that a `None`-valued key",
        "is dropped **before** merging (`operators/util.py:opts_of`). So an",
        "explicit `{\"opt\": None}` — the natural output of programmatic",
        "opts-building — behaves exactly like omitting the key, and in a",
        "multi-dict form a LATER `{\"opt\": None}` does **not** erase an",
        "earlier dict's real value: `[op, rel, {\"k\": 3}, {\"k\": None}]`",
        "reads `k = 3`, not `k = unset`. To genuinely override an earlier",
        "value you must pass a non-None value. The engine-wide None-identity",
        "contract (including curated parses reading their defaults through",
        "an explicit None) is pinned by",
        "`tests/test_error_contract.py::test_explicit_none_option_means_unset`",
        "and `::test_pos_int_opt_contract_standalone`.",
        "",
        "| form(s) | implementation | summary |",
        "|---|---|---|",
    ]
    for fn, names in sorted(seen.items(), key=lambda kv: kv[1][0]):
        doc = (fn.__doc__ or "").strip().splitlines()
        summary = doc[0].replace("|", "\\|") if doc else ""
        mod = fn.__module__.replace("ksml_spark.", "")
        forms = ", ".join(f"`{n}`" for n in names)
        lines.append(f"| {forms} | `{mod}.{fn.__name__}` | {summary} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(OUT, "w") as f:
        f.write(render())
    print(f"wrote docs/OPERATORS.md ({len(_by_impl())} ops, "
          f"{len(OPERATORS)} forms)")


if __name__ == "__main__":
    main()

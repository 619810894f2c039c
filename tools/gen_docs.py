"""Regenerate the repo's generated doc indexes: API.md and QUERIES.md.

Run after adding/removing public callables or registered queries:

    python tools/gen_docs.py            # rewrites API.md + QUERIES.md
    python tools/gen_docs.py --check    # exit 1 if either file is stale

Descriptions are the FIRST PHYSICAL LINE of each docstring, verbatim —
keep those lines meaningful on their own.
"""

from __future__ import annotations

import importlib
import inspect
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# (section title, module) — curated order, roughly data-model → operators
# → streaming → LLM-pipeline functions → multimodal → control plane.
API_SECTIONS = [
    ("Task data model", "decaton_spark.envelope"),
    ("Incremental corpus merge", "decaton_spark.operators.merge"),
    ("Data-quality expectations", "decaton_spark.operators.expectations"),
    ("As-of / range joins", "decaton_spark.operators.asof"),
    ("Time-series", "decaton_spark.operators.timeseries"),
    ("Dedup", "decaton_spark.functions.dedup"),
    ("Similarity / ANN", "decaton_spark.functions.similarity"),
    ("Embedding quantization", "decaton_spark.functions.quantize"),
    ("Preference ranking", "decaton_spark.functions.ranking"),
    ("Text analysis", "decaton_spark.functions.text"),
    ("BPE tokenizer training", "decaton_spark.functions.bpe"),
    ("Training-shard writer", "decaton_spark.sinks"),
    ("Quality filters", "decaton_spark.functions.quality"),
    ("Data selection", "decaton_spark.functions.dsir"),
    ("Sketches", "decaton_spark.functions.sketches"),
    ("Cross-engine hashing", "decaton_spark.functions.hashing"),
    ("Images / binary media", "decaton_spark.multimodal.columns"),
    ("Audio", "decaton_spark.multimodal.audio"),
    ("Video", "decaton_spark.multimodal.video"),
    ("Protobuf wire codec", "decaton_spark.protocol"),
    ("Metrics registry", "decaton_spark.meters"),
    ("Workload mirror", "decaton_spark.benchmark"),
]


def _first_doc_line(obj) -> str:
    doc = inspect.getdoc(obj)
    if not doc:
        return ""
    return doc.splitlines()[0].rstrip()


def _module_entries(modname: str) -> list[tuple[str, str, str]]:
    mod = importlib.import_module(modname)
    out = []
    for name in sorted(vars(mod)):
        if name.startswith("_"):
            continue
        obj = vars(mod)[name]
        if not (inspect.isfunction(obj) or inspect.isclass(obj)):
            continue
        if getattr(obj, "__module__", None) != modname:
            continue  # re-exports are indexed at their home module
        kind = "class" if inspect.isclass(obj) else "def"
        out.append((name, kind, _first_doc_line(obj)))
    return out


def gen_api_md() -> str:
    from decaton_spark.queries import EXTRA_QUERIES, QUERIES

    lines = [
        "# decaton_spark API reference",
        "",
        "One line per public callable (generated from docstrings; see the",
        "module sources for full contracts and 100 TB plan-shape notes).",
        "",
    ]
    for title, modname in API_SECTIONS:
        lines.append(f"## {title} — `{modname}`")
        lines.append("")
        for name, kind, doc in _module_entries(modname):
            lines.append(f"- `{name}` ({kind}) — {doc}")
        lines.append("")
    n = len(QUERIES) + len(EXTRA_QUERIES)
    lines += [
        "## Query registry — `decaton_spark.queries`",
        "",
        f"- {n} registered (Spark query, DuckDB oracle) pairs;",
        f"  `QUERIES` = {len(QUERIES)}-entry driver tier, `EXTRA_QUERIES` = the rest —",
        "  all gated by tests/test_queries_oracle.py and tools/drive_harness.py.",
        "",
    ]
    return "\n".join(lines)


def gen_queries_md() -> str:
    from decaton_spark.queries import EXTRA_QUERIES, QUERIES

    every = {**QUERIES, **EXTRA_QUERIES}
    lines = [
        "# Query registry index",
        "",
        f"{len(every)} registered (Spark, DuckDB-oracle) pairs.",
        f"`[tier]` = current {len(QUERIES)}-entry driver tier; everything else is",
        "oracle-gated locally (pytest sf0.001, drive_harness sf0.01) and",
        "rotates into the tier per the policy in queries.py.",
        "",
    ]
    last_prefix = None
    for name in sorted(every):
        prefix = name.split("_", 1)[0]
        if prefix != last_prefix:
            lines += [f"\n## {prefix}", ""]
            last_prefix = prefix
        tier = " `[tier]`" if name in QUERIES else ""
        doc = _first_doc_line(every[name].fn)
        lines.append(f"- **{name}**{tier} — {doc}")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    check = "--check" in sys.argv
    stale = []
    for path, gen in [(ROOT / "API.md", gen_api_md), (ROOT / "QUERIES.md", gen_queries_md)]:
        text = gen()
        if check:
            if path.read_text() != text:
                stale.append(path.name)
        else:
            path.write_text(text)
            print(f"wrote {path.name}")
    if check and stale:
        print(f"STALE: {', '.join(stale)} — run python tools/gen_docs.py")
        raise SystemExit(1)
    if check:
        print("docs up to date")


if __name__ == "__main__":
    main()

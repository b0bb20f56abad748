"""Generate docs/CATALOG.md: the full query catalog as a reference
table — name, SURVEY §2 operator ids, one-line description, oracle
kind — grouped by defining module.

Usage: python tools/catalog_doc.py   (no Spark session needed)
"""

from __future__ import annotations

import sys
from collections import defaultdict

sys.path.insert(0, ".")

from tomasz_weight_tracker_spark.plans import REGISTRY  # noqa: E402


def render() -> str:
    """docs/CATALOG.md's text for the current REGISTRY."""
    by_module: dict[str, list] = defaultdict(list)
    for name, q in sorted(REGISTRY.items()):
        mod = q.build.__module__.rsplit(".", 1)[-1]
        by_module[mod].append((name, q))
    lines = [
        "# CATALOG — every query in the correctness gate",
        "",
        f"Generated by `python tools/catalog_doc.py`; {len(REGISTRY)} queries,",
        "each a (Spark build, DuckDB oracle) pair checked by value hash in",
        "`tools/parity.py` and the driver's CORRECTNESS run.",
        "",
    ]
    for mod in sorted(by_module):
        lines += [f"## plans/{mod}.py", ""]
        lines += ["| query | SURVEY ids | description |", "|---|---|---|"]
        for name, q in by_module[mod]:
            ids = ", ".join(q.survey_ids) if q.survey_ids else "—"
            doc = " ".join((q.doc or "").split())
            lines.append(f"| `{name}` | {ids} | {doc} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    with open("docs/CATALOG.md", "w") as f:
        f.write(render())
    print(f"wrote docs/CATALOG.md ({len(REGISTRY)} queries)")


if __name__ == "__main__":
    main()

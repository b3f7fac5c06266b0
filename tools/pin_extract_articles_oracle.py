"""Regenerate the pinned value-level oracle for ``extract_articles``.

The kernel is not SQL-expressible, so the flagship query's oracle is the
full 500-row (doc_id, title, byline, length, status) projection computed
once from the deterministic seed-42 sf0.01 corpus (TESTDATA.md pins the
data; the kernel is pinned by the 119/119 golden suite) and emitted as a
DuckDB VALUES relation.  Any kernel change that alters extraction output
at sf0.01 shows up as a hash mismatch in the driver's correctness gate.

Usage: python tools/pin_extract_articles_oracle.py   (rewrites the .sql)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "oracles",
    "extract_articles_sf001.sql",
)


def _lit(v) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + str(v).replace("'", "''") + "'"


def _int_lit(v) -> str:
    # error-status rows carry length=None (spark/extract.py _EMPTY);
    # interpolating the Python repr would write invalid SQL
    if v is None:
        return "CAST(NULL AS INTEGER)"
    return f"CAST({int(v)} AS INTEGER)"


def main() -> int:
    import __spark_entry__ as e
    from go_readability_spark.spark.session import build_session

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    rows = e.queries()["extract_articles"](spark, e.PINNED_SF_DIR).collect()
    spark.stop()

    values = ",\n".join(
        f"  ({_lit(r.doc_id)}, {_lit(r.title)}, {_lit(r.byline)},"
        f" {_int_lit(r.length)}, {_lit(r.status)})"
        for r in sorted(rows, key=lambda r: r.doc_id)
    )
    sql = (
        "-- generated by tools/pin_extract_articles_oracle.py from the\n"
        f"-- deterministic {e.PINNED_SF_DIR} corpus; do not hand-edit\n"
        "SELECT * FROM (VALUES\n"
        f"{values}\n"
        ") AS t(doc_id, title, byline, length, status)\nORDER BY doc_id\n"
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w", encoding="utf-8") as f:
        f.write(sql)
    print(f"wrote {OUT}: {len(rows)} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

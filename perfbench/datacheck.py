"""Compare the generated inputs against a reference data directory.

Run from the repository root::

    python3 perfbench/datacheck.py <reference_dir> [--seed N]

It writes ``datagen``'s tables for the seed to ``.perfbench/datacheck``
and prints, side by side, the properties the workload slots depend on:
row counts, key fan-out, the text corpus's exact and near duplicates
(token-set Jaccard pairs, the ``dup`` marker), embedding pairs at q43's
cosine threshold, and the q43/q65 oracle row counts per output tag.
"""

from __future__ import annotations

import argparse
import shutil
import sys
from collections import Counter
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))

import datagen  # noqa: E402
from oracle import TABLES  # noqa: E402

PROPERTIES = {
    "documents: distinct texts": "SELECT COUNT(DISTINCT text) FROM documents",
    "documents: with the dup marker": (
        "SELECT COUNT(*) FROM documents WHERE list_contains(string_split(text, ' '), 'dup')"
    ),
    "documents: vocabulary": (
        "SELECT COUNT(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
    ),
    "documents: words p10/p50/p90": (
        "SELECT quantile_disc(len(string_split(text, ' ')), [0.1, 0.5, 0.9]) FROM documents"
    ),
    "documents: docs per source min/max": (
        "SELECT min(c), max(c) FROM (SELECT source, COUNT(*) AS c FROM documents GROUP BY 1)"
    ),
    "documents: lang=en": "SELECT COUNT(*) FROM documents WHERE lang = 'en'",
    "documents: distinct token sets": "SELECT COUNT(DISTINCT s) FROM tokens",
    "documents: token-set pairs J>=0.5/0.8/0.9": """
        SELECT COUNT(*) FILTER (WHERE j >= 0.5), COUNT(*) FILTER (WHERE j >= 0.8),
               COUNT(*) FILTER (WHERE j >= 0.9)
        FROM (SELECT len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))) AS j
              FROM tokens a JOIN tokens b ON a.id < b.id)""",
    "embeddings: distinct vectors": "SELECT COUNT(DISTINCT embedding) FROM embeddings",
    "embeddings: pairs cos>=0.45": """
        WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT COUNT(*) FROM e a JOIN e b ON a.id < b.id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.45""",
    "orders per customer max/avg": (
        "SELECT max(c), round(avg(c), 2) FROM (SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY 1)"
    ),
    "lineitems per order max/avg": (
        "SELECT max(c), round(avg(c), 2) FROM (SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY 1)"
    ),
    "events: distinct users": "SELECT COUNT(DISTINCT user_id) FROM events",
}
#: Slots whose oracle output is counted per ``op`` tag (or in rows).
SLOTS = ("q43", "q65")


def properties(data_dir: Path, sqls: dict[str, str]) -> dict[str, str]:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
    con.sql(
        "CREATE TABLE tokens AS SELECT doc_id AS id, "
        "list_sort(list_distinct(string_split(text, ' '))) AS s FROM documents"
    )
    out = {f"rows {t}": str(con.sql(f"SELECT COUNT(*) FROM {t}").fetchone()[0]) for t in TABLES}
    for name, sql in PROPERTIES.items():
        row = con.sql(sql).fetchone()
        out[name] = "/".join(str(v) for v in row) if len(row) > 1 else str(row[0])
    for name, sql in sqls.items():
        if name.startswith(SLOTS):
            res = con.sql(sql)
            rows = res.fetchall()
            if "op" in res.columns:
                i = res.columns.index("op")
                out[f"{name} rows per op"] = str(dict(sorted(Counter(r[i] for r in rows).items())))
            else:
                out[f"{name} rows"] = str(len(rows))
    con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference", type=Path)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, str(Path.cwd()))
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    gen = Path.cwd() / ".perfbench" / "datacheck"
    shutil.rmtree(gen, ignore_errors=True)
    try:
        datagen.write_tables(gen, args.seed)
        ours, ref = properties(gen, sqls), properties(args.reference, sqls)
    finally:
        shutil.rmtree(gen, ignore_errors=True)
    width = max(len(k) for k in ours)
    print(f"{'property':<{width}}  generated (seed {args.seed})  |  {args.reference}")
    for k, v in ours.items():
        print(f"{k:<{width}}  {v}  |  {ref[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

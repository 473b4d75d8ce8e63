"""Correctness checks, run outside every timed region.

Query results are compared with their DuckDB ``oracle_sql()`` twins
under the oracle harness's exact-value normalization
(``tests/oracle_harness.py``); article tables are compared with a
pure-Python reduction of the generator's own log.
"""

from __future__ import annotations

import os
import sys

import duckdb

from perfbench import inputs

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests"))
from oracle_harness import _arrow_family, _spark_family, canonicalize  # noqa: E402


class Oracle:
    """DuckDB over the generated corpus; one canonical answer per query."""

    def __init__(self, data_dir: str, sqls: dict[str, str]):
        con = duckdb.connect()
        try:
            for table in ("documents", "embeddings"):
                path = os.path.join(data_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            self.answers = {}
            for name, sql in sqls.items():
                tbl = con.sql(sql).arrow()
                cols = [c.lower() for c in tbl.column_names]
                rows = [tuple(r.values()) for r in tbl.to_pylist()]
                families = {c: _arrow_family(tbl.schema.field(i).type)
                            for i, c in enumerate(cols)}
                self.answers[name] = (sorted(cols), families,
                                      canonicalize(cols, rows))
        finally:
            con.close()

    def mismatch(self, name: str, schema, rows) -> str | None:
        """None when the Spark result equals the oracle's, else why not."""
        cols, families, expected = self.answers[name]
        s_cols = [f.name.lower() for f in schema.fields]
        if sorted(s_cols) != cols:
            return f"{name}: columns {sorted(s_cols)} != oracle {cols}"
        for f in schema.fields:
            fam = _spark_family(f.dataType.simpleString())
            if families.get(f.name.lower()) != fam:
                return (f"{name}: type family of {f.name} is {fam}, oracle "
                        f"{families.get(f.name.lower())}")
        got = canonicalize(s_cols, [tuple(r) for r in rows])
        if got != expected:
            diff = next(((g, e) for g, e in zip(got, expected) if g != e), None)
            return (f"{name}: {len(got)} rows differ from oracle's {len(expected)}; "
                    f"first differing (spark, oracle): {diff}")
        return None


def article_mismatch(table: str, rows, expected: dict[int, int],
                     gold_only: bool) -> str | None:
    """Compare committed (id, title) rows with the reduction ``expected``
    (key → surviving version); ``gold_only`` drops articles the gold
    view filters out."""
    want = {
        (inputs.article_id(inputs.article_link(k)),
         inputs.clean_title(inputs.article_title(k, v)))
        for k, v in expected.items() if not gold_only or inputs.in_gold(k)
    }
    got = [(r[0], r[1]) for r in rows]
    if len(got) != len(set(got)):
        return f"{table}: duplicate rows"
    missing, extra = want - set(got), set(got) - want
    if missing or extra:
        return (f"{table}: {len(missing)} expected rows missing, "
                f"{len(extra)} unexpected rows (of {len(want)})")
    return None

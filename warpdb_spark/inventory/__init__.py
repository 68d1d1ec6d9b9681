"""Query inventory.

Each submodule exposes ``QUERIES: dict[str, Callable[[SparkSession, str],
DataFrame]]`` and ``ORACLES: dict[str, str]`` (ANSI SQL for DuckDB).
``__spark_entry__.py`` aggregates them. Naming convention: the prefix
states the SURVEY §2 operator family the entry covers.

``load_all()`` merges the submodules in a fixed module order. Names are
unique across the inventory: a name defined twice, or an oracle without
a query, is an error rather than a silent shadow. Every entry is
guarded by the local oracle gate (tools/check_oracle.py) and pytest.
"""

from __future__ import annotations


def load_all():
    from warpdb_spark.inventory import (
        analytics_ext,
        core_sql,
        curation_ext,
        pipeline_ops,
        retrieval_ops,
        scale_ops,
        tpch_extra,
    )

    queries: dict = {}
    oracles: dict = {}
    owner: dict[str, str] = {}
    for m in (core_sql, tpch_extra, pipeline_ops, analytics_ext, retrieval_ops,
              scale_ops, curation_ext):
        mod = m.__name__.rsplit(".", 1)[-1]
        clash = sorted(n for n in m.QUERIES if n in queries)
        if clash:
            raise RuntimeError(
                "inventory names defined twice: "
                + ", ".join(f"{n} ({owner[n]}, {mod})" for n in clash)
            )
        orphans = sorted(set(m.ORACLES) - set(m.QUERIES))
        if orphans:
            raise RuntimeError(f"oracles without a query in {mod}: {orphans}")
        queries.update(m.QUERIES)
        oracles.update(m.ORACLES)
        owner.update(dict.fromkeys(m.QUERIES, mod))
    return queries, oracles

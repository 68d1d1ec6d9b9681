"""The three workloads. Each drives the engine only through its public
API, returns per-operation facts for the metrics, and verifies every
timed operation against an independent oracle after the timed loop.

Why these three (see README.md for the full table):

- ``interactive_sql``: small in-memory table, short dialect and
  mini-language queries from two clients; plan construction, Catalyst,
  scheduling and Arrow export dominate.
- ``scan_analytics``: TPC-H-shaped queries over a multi-file parquet
  star schema several times larger; scan, shuffle, join and aggregate
  execution dominate and plan construction is negligible.
- ``curation_ingest``: NDJSON in, dedup + vector top-k, parquet out;
  the only workload where ``operators`` does most of the work.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import oracle

SALES_TYPES = ["bigint", "int", "string", "int", "double", "int", "double", "int"]
CUSTOMER_TYPES = ["bigint", "string", "double"]
DUCK_SALES = (
    "{'s_id': 'BIGINT', 's_cust': 'INTEGER', 's_region': 'VARCHAR', 's_cat': 'INTEGER', "
    "'s_price': 'DOUBLE', 's_qty': 'INTEGER', 's_disc': 'DOUBLE', 's_day': 'INTEGER'}"
)
DUCK_CUSTOMERS = "{'c_id': 'BIGINT', 'c_segment': 'VARCHAR', 'c_credit': 'DOUBLE'}"


@dataclass
class OpResult:
    in_rows: int
    out_rows: int
    out_bytes: int
    written_bytes: int = 0
    #: what ``verify`` needs to check this operation
    check: object = None
    #: the DataFrame whose action the operation ran, for phase timings
    frame: object = None


@dataclass
class Verdict:
    failures: dict[int, str] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)


class Workload:
    name = ""
    clients = 1
    #: operations per round of the workload's mix; statistics use whole
    #: rounds only, so every template weighs the same in every run
    cycle = 1
    #: each client completes at least this many operations, even past
    #: the deadline, so a median always has several samples
    min_ops = 1

    def __init__(self, manifest: dict, seed: int, work_dir: str):
        self.manifest = manifest
        self.tables = manifest["tables"]
        self.work_dir = work_dir

    def setup(self, spark, tracer) -> None:
        """Load the inputs and force one read of them (timed as set-up)."""
        raise NotImplementedError

    def prime(self, tracer) -> None:
        """Run each kind of operation once, untimed, so the timed loop
        starts with warm JVM code paths."""
        raise NotImplementedError

    def run_op(self, client: int, seq: int, tracer) -> OpResult:
        raise NotImplementedError

    def verify(self, done: list[tuple[int, OpResult]]) -> Verdict:
        raise NotImplementedError

    def trace_counters(self, spark, tracer) -> dict:
        return {}


def _zipf_ranks(rng: np.random.Generator, n_items: int, n_draws: int, s: float = 1.0) -> np.ndarray:
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, n_draws, p=p / p.sum())


class InteractiveSQL(Workload):
    """Closed loop, two clients, Zipf-drawn texts from a seeded pool of
    parameterised templates over a CSV table plus a CSV join table."""

    name = "interactive_sql"
    clients = 2
    PARAMS_PER_TEMPLATE = 40
    DRAWS = 21_000
    PRIME_ROUNDS = 1

    def __init__(self, manifest, seed, work_dir):
        super().__init__(manifest, seed, work_dir)
        rng = np.random.default_rng([seed, 101])
        sales = self.tables["sales"]["rows"]
        both = sales + self.tables["customers"]["rows"]
        regions = ["north", "south", "east", "west", "central"]
        templates = [
            lambda: (
                "mini",
                f"s_price * s_qty WHERE s_price > {rng.integers(100, 480)} AND s_qty < {rng.integers(2, 10)}",
                sales,
            ),
            lambda: (
                "sql",
                f"SELECT s_cat, SUM(s_price * s_qty) AS revenue, COUNT(*) AS n FROM sales "
                f"WHERE s_day >= {rng.integers(0, 300)} GROUP BY s_cat "
                f"HAVING COUNT(*) > {rng.integers(100, 600)}",
                sales,
            ),
            lambda: (
                "sql",
                f"SELECT s_id, s_price, s_qty FROM sales WHERE s_cat = {rng.integers(0, 20)} "
                f"AND s_region = '{regions[rng.integers(0, 5)]}' "
                f"ORDER BY s_price DESC, s_id LIMIT {rng.integers(5, 50)}",
                sales,
            ),
            lambda: (
                "sql",
                f"SELECT DISTINCT s_region, s_cat FROM sales WHERE s_qty > {rng.integers(30, 50)} "
                f"AND s_price < {rng.integers(20, 200)}",
                sales,
            ),
            lambda: (
                "sql",
                f"SELECT c_segment, COUNT(*) AS n, SUM(s_price) AS total FROM sales "
                f"JOIN customers ON s_cust = c_id WHERE s_day < {rng.integers(30, 365)} "
                f"AND c_credit > {rng.integers(0, 9000)} GROUP BY c_segment",
                both,
            ),
            lambda: (
                "sql",
                f"SELECT s_id, s_day, SUM(s_price) OVER (PARTITION BY s_cat ORDER BY s_day, s_id) "
                f"AS running FROM sales WHERE s_cust = {rng.integers(0, 1000)}",
                sales,
            ),
            lambda: (
                "sql",
                "SELECT s_id, net(s_price, s_disc) AS np FROM sales "
                f"WHERE net(s_price, s_disc) > {rng.integers(100, 450)} "
                f"AND s_region = '{regions[rng.integers(0, 5)]}' ORDER BY np DESC, s_id LIMIT 20",
                sales,
            ),
        ]
        # pool[p * T + t] is template t with parameter set p. A client
        # cycles through the templates and draws each one's parameter
        # set Zipf-style, so repeats follow a Zipf law while the
        # template mix, which sets the cost, is the same for every seed
        n_templates = len(templates)
        self.pool = [t() for _ in range(self.PARAMS_PER_TEMPLATE) for t in templates]
        self.warmup = [t() for t in templates]
        self.cycle = n_templates
        self.sequences = [
            _zipf_ranks(rng, self.PARAMS_PER_TEMPLATE, self.DRAWS) * n_templates
            + (np.arange(self.DRAWS) + c) % n_templates
            for c in range(self.clients)
        ]
        self.db = None

    @staticmethod
    def duck_sql(kind: str, text: str) -> str:
        if kind == "mini":
            expr, cond = text.split(" WHERE ", 1)
            return f"SELECT {expr} AS result FROM sales WHERE {cond}"
        return text.replace("net(s_price, s_disc)", "(s_price * (1 - s_disc))")

    def setup(self, spark, tracer) -> None:
        from warpdb_spark import WarpDB

        # one engine handle shared by the client threads, as a server would
        db = WarpDB(self.tables["sales"]["path"], schema=SALES_TYPES, spark=spark, table_name="sales")
        db.attach("customers", self.tables["customers"]["path"], schema=CUSTOMER_TYPES)
        db.register_function("net", lambda p, d: p * (1 - d))
        db.query_sql("SELECT COUNT(*) AS n FROM sales JOIN customers ON s_cust = c_id").collect()
        self.db = db

    def prime(self, tracer) -> None:
        for _ in range(self.PRIME_ROUNDS):
            for kind, text, _ in self.warmup:
                self._execute(kind, text, tracer)

    def _execute(self, kind, text, tracer):
        if kind == "mini":
            table = self.db.query_arrow(text)
            return table, tracer.last_result() if tracer.recording() else None
        df = self.db.query_sql(text)
        with tracer.span("api.export"):
            table = df.toArrow()
        return table, df

    def run_op(self, client, seq, tracer) -> OpResult:
        idx = int(self.sequences[client][seq % self.DRAWS])
        kind, text, in_rows = self.pool[idx]
        table, frame = self._execute(kind, text, tracer)
        return OpResult(in_rows, table.num_rows, table.nbytes, check=(idx, table), frame=frame)

    def verify(self, done) -> Verdict:
        v = Verdict()
        duck = oracle.DuckOracle(
            {
                "sales": f"SELECT * FROM read_csv('{self.tables['sales']['path']}', header=true, columns={DUCK_SALES})",
                "customers": f"SELECT * FROM read_csv('{self.tables['customers']['path']}', header=true, columns={DUCK_CUSTOMERS})",
            }
        )
        want, seen = {}, {}
        try:
            for op_id, res in done:
                idx, table = res.check
                got = oracle.rows_of(table)
                key = (idx, oracle.value_hash(got))
                if key not in seen:
                    if idx not in want:
                        kind, text, _ = self.pool[idx]
                        want[idx] = duck.rows(self.duck_sql(kind, text))
                    seen[key] = oracle.same_rows(got, want[idx])
                if not seen[key]:
                    v.failures[op_id] = f"result differs from DuckDB for: {self.pool[idx][1]}"
        finally:
            duck.close()
        texts = [res.check[0] for _, res in done]
        distinct = len(set(texts))
        v.notes["repeat_share"] = (len(texts) - distinct) / len(texts) if texts else 0.0
        v.notes["distinct_texts"] = distinct
        return v


class ScanAnalytics(Workload):
    """Closed loop, one client, TPC-H-shaped dialect queries; predicate
    constants come from a seeded permutation of each template's
    parameter grid, so no two executions in a run share a result."""

    name = "scan_analytics"
    clients = 1

    def __init__(self, manifest, seed, work_dir):
        super().__init__(manifest, seed, work_dir)
        rng = np.random.default_rng([seed, 202])
        rows = {k: t["rows"] for k, t in self.tables.items()}
        segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        q1 = (
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
            "SUM(l_extendedprice) AS sum_base, SUM(l_extendedprice * (1 - l_discount)) AS sum_disc, "
            "SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
            "AVG(l_quantity) AS avg_qty, AVG(l_discount) AS avg_disc, COUNT(*) AS n "
            "FROM lineitem WHERE l_shipdate <= {d} GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus"
        )
        q3 = (
            "SELECT l_orderkey, o_orderdate, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
            "WHERE c_mktsegment = '{seg}' AND o_orderdate < {d} AND l_shipdate > {d} "
            "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10"
        )
        q5 = (
            "SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE c_nationkey = s_nationkey AND r_name = '{region}' "
            "AND o_orderdate >= {d} AND o_orderdate < {d_end} GROUP BY n_name ORDER BY revenue DESC"
        )
        q6 = (
            "SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem "
            "WHERE l_shipdate >= {d} AND l_shipdate < {d_end} "
            "AND l_discount BETWEEN {lo} AND {hi} AND l_quantity < {q}"
        )
        q18 = (
            "SELECT c_custkey, o_orderkey, o_totalprice, SUM(l_quantity) AS qty "
            "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey "
            "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
            "HAVING SUM(l_quantity) > {q}) "
            "GROUP BY c_custkey, o_orderkey, o_totalprice ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
        )
        running = (
            "SELECT o_custkey, o_orderkey, SUM(o_totalprice) OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running "
            "FROM orders WHERE o_orderdate BETWEEN {d} AND {d_end}"
        )
        line, orders, cust = rows["lineitem"], rows["orders"], rows["customer"]
        dims = rows["supplier"] + rows["nation"] + rows["region"]
        grids = [
            (q1, [dict(d=d) for d in range(1800, 2400)], line),
            (q3, [dict(seg=s, d=d) for s in segs for d in range(300, 2100)], cust + orders + line),
            (
                q5,
                [dict(region=r, d=d, d_end=d + 365) for r in regions for d in range(0, 2000)],
                cust + orders + line + dims,
            ),
            (
                q6,
                [
                    dict(d=d, d_end=d + 365, lo=lo / 100, hi=(lo + 2) / 100, q=q)
                    for d in range(0, 2000, 5)
                    for lo in range(2, 9)
                    for q in (24, 25)
                ],
                line,
            ),
            (q18, [dict(q=q) for q in range(200, 320)], cust + orders + 2 * line),
            (running, [dict(d=d, d_end=d + 120) for d in range(0, 2200)], orders),
        ]
        self.templates = []
        for text, grid, in_rows in grids:
            order = rng.permutation(len(grid))
            self.templates.append(([text.format(**grid[i]) for i in order], in_rows))
        self.cycle = len(self.templates)
        self.db = None

    def setup(self, spark, tracer) -> None:
        from warpdb_spark import WarpDB

        t = self.tables
        db = WarpDB(t["lineitem"]["path"], spark=spark, table_name="lineitem")
        for name in ("orders", "customer", "supplier", "nation", "region"):
            db.attach(name, t[name]["path"])
        db.query_sql("SELECT COUNT(*) AS n FROM lineitem").collect()
        self.db = db

    def prime(self, tracer) -> None:
        for texts, _ in self.templates:
            self._execute(texts[-1], tracer)

    def _execute(self, text, tracer):
        df = self.db.query_sql(text)
        with tracer.span("api.export"):
            return df.toArrow(), df

    def _text(self, seq):
        texts, in_rows = self.templates[seq % len(self.templates)]
        return texts[seq // len(self.templates)], in_rows

    def run_op(self, client, seq, tracer) -> OpResult:
        text, in_rows = self._text(seq)
        table, df = self._execute(text, tracer)
        return OpResult(in_rows, table.num_rows, table.nbytes, check=(text, table), frame=df)

    def verify(self, done) -> Verdict:
        v = Verdict()
        duck = oracle.DuckOracle(
            {
                name: f"SELECT * FROM read_parquet('{self.tables[name]['path']}/*.parquet')"
                for name in ("lineitem", "orders", "customer", "supplier", "nation", "region")
            }
        )
        try:
            for op_id, res in done:
                text, table = res.check
                if not oracle.same_rows(oracle.rows_of(table), duck.rows(text)):
                    v.failures[op_id] = f"result differs from DuckDB for: {text}"
        finally:
            duck.close()
        v.notes["repeat_share"] = 0.0
        return v


class CurationIngest(Workload):
    """Closed loop, one client; one operation is one pipeline pass:
    load NDJSON documents and parquet embeddings, exact dedup, MinHash
    near-dedup, cosine top-k for a query batch, write the curated
    corpus as parquet."""

    name = "curation_ingest"
    clients = 1
    # a pass takes seconds: insist on three so the median has a middle
    min_ops = 3
    THRESHOLD = 0.8
    K = 10
    MIN_RECALL = 0.95

    def __init__(self, manifest, seed, work_dir):
        super().__init__(manifest, seed, work_dir)
        self.spark = None
        self.out_dir = os.path.join(work_dir, "curated")

    def setup(self, spark, tracer) -> None:
        self.spark = spark
        for df in self._load():
            df.count()

    def prime(self, tracer) -> None:
        # the same pipeline over a tenth of the inputs: compiles the same
        # code paths at a fraction of the cost
        self._pass("prime", tracer, prefix="prime_")
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def _docs_schema(self):
        from pyspark.sql import types as T

        return T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("source", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        )

    def _load(self, prefix=""):
        from warpdb_spark.sources import readers

        t = self.tables
        docs = readers.load_table(self.spark, t[prefix + "docs"]["path"], schema=self._docs_schema())
        emb = readers.load_table(self.spark, t[prefix + "embeddings"]["path"])
        queries = readers.load_table(self.spark, t["queries"]["path"])
        return docs, emb, queries

    def _pass(self, tag, tracer, prefix=""):
        from warpdb_spark.operators import dedup, similarity
        from warpdb_spark.sources import writers

        docs, emb, queries = self._load(prefix)
        with tracer.span("operators.exact_dedup"):
            exact = dedup.exact_dedup(docs, ["text"]).persist()
            n_exact = exact.count()
        with tracer.span("operators.minhash_dedup"):
            near = dedup.minhash_dedup(exact, threshold=self.THRESHOLD).persist()
            n_near = near.count()
        with tracer.span("operators.cosine_topk"):
            top_df = similarity.cosine_topk(emb, queries, k=self.K)
            top = top_df.collect()
        path = os.path.join(self.out_dir, f"pass-{tag}")
        writers.write_table(near, path, "parquet")
        near.unpersist()
        exact.unpersist()
        written = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
        return n_exact, n_near, path, top, written, top_df

    def run_op(self, client, seq, tracer) -> OpResult:
        n_exact, n_near, path, top, written, top_df = self._pass(seq, tracer)
        return OpResult(
            self.tables["docs"]["rows"],
            n_near,
            0,
            written_bytes=written,
            check=(n_exact, n_near, path, top),
            frame=top_df,
        )

    def verify(self, done) -> Verdict:
        v = Verdict()
        truth = self.manifest["truth"]
        duck = oracle.DuckOracle(
            {"docs": f"SELECT * FROM read_json('{self.tables['docs']['path']}/*.ndjson', format='newline_delimited')"}
        )
        try:
            distinct = duck.scalar("SELECT COUNT(DISTINCT text) FROM docs")
            all_ids = {r[0] for r in duck.con.execute("SELECT doc_id FROM docs").fetchall()}
        finally:
            duck.close()
        if distinct != truth["distinct_texts"]:
            raise RuntimeError(f"oracle disagrees with the generator: {distinct} distinct texts")
        emb = pq.read_table(self.tables["embeddings"]["path"])
        qs = pq.read_table(self.tables["queries"]["path"])
        ref = oracle.cosine_topk_ref(
            emb["vec_id"].to_numpy(),
            np.array(emb["embedding"].to_pylist()),
            qs["vec_id"].to_numpy(),
            np.array(qs["embedding"].to_pylist()),
            self.K,
        )
        near_ids = set(truth["near_dup_ids"])
        keep_ids = all_ids - set(truth["exact_dup_ids"]) - near_ids
        recalls = []
        for op_id, res in done:
            n_exact, n_near, path, top = res.check
            problems = []
            if n_exact != distinct:
                problems.append(f"exact_dedup kept {n_exact}, DuckDB counts {distinct} distinct texts")
            written = set(pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist())
            if len(written) != n_near:
                problems.append(f"wrote {len(written)} rows, minhash_dedup counted {n_near}")
            if not keep_ids <= written:
                problems.append(f"{len(keep_ids - written)} non-duplicate documents removed")
            if written & set(truth["exact_dup_ids"]):
                problems.append("exact duplicates survived")
            recall = len(near_ids - written) / len(near_ids)
            recalls.append(recall)
            if recall < self.MIN_RECALL:
                problems.append(f"near-duplicate recall {recall:.3f} < {self.MIN_RECALL}")
            if not self._topk_matches(top, ref):
                problems.append("cosine_topk differs from numpy brute force")
            if problems:
                v.failures[op_id] = "; ".join(problems)
        v.notes["near_dup_recall_min"] = min(recalls) if recalls else None
        v.notes["repeat_share"] = 0.0
        return v

    @staticmethod
    def _topk_matches(top, ref) -> bool:
        got: dict[int, list] = {}
        for r in sorted(top, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
        for qid, want in ref.items():
            g = got.get(qid, [])
            if [i for i, _ in g] == [i for i, _ in want]:
                continue
            # a tie at the sixth decimal may order differently: accept
            # equal cosine sequences
            if len(g) != len(want) or any(abs(c - w) > 2e-6 for (_, c), (_, w) in zip(g, want)):
                return False
        return True

    def trace_counters(self, spark, tracer) -> dict:
        """LSH work counters, computed once after the timed loop on the
        same exact-dedup output a pass feeds to minhash_dedup."""
        import time

        from warpdb_spark.operators import dedup

        docs, _, _ = self._load()
        exact = dedup.exact_dedup(docs, ["text"]).persist()
        exact.count()
        t0 = time.perf_counter()
        candidates = dedup.lsh_candidate_pairs(exact).count()
        signature_ms = (time.perf_counter() - t0) * 1000
        verified = dedup.lsh_verified_pairs(exact, threshold=self.THRESHOLD).count()
        exact.unpersist()
        return {
            "operators.minhash_signature_ms": signature_ms,
            "operators.lsh_candidate_pairs": candidates,
            "operators.lsh_verified_pairs": verified,
            "operators.lsh_precision": verified / candidates if candidates else 0.0,
        }


WORKLOADS = {w.name: w for w in (InteractiveSQL, ScanAnalytics, CurationIngest)}

"""The benchmark's workloads: inputs, ops and correctness checks.

Each workload generates its inputs from the seed, checks every op once
against an independent answer (``prepare``, which is also the cold
pass), then runs ops whose outputs are checked again after every timed
call, outside the timed region (``after_op``). ``prepare`` times the
program's calls of the cold pass on ``cold``; input generation and the
DuckDB checks are the benchmark's own work and stay out of it.
"""

from __future__ import annotations

import gc
import os
import shutil
from dataclasses import dataclass, field

import numpy as np

import gen_insurance
import gen_warehouse
import measure

# The Parquet outputs of one pipeline pass, in write order: five staged
# raw tables, then twelve cleaned, dimension, fact and analytics tables.
ETL_TABLES = [
    "contracts",
    "vehicles",
    "claims",
    "telematics_raw",
    "device_mapping",
    "cleaned_contracts",
    "cleaned_vehicles",
    "cleaned_claims",
    "cleaned_telematics",
    "dim_customer",
    "dim_policy",
    "dim_date",
    "fact_policy_snapshot",
    "fact_claims",
    "fact_driver_risk",
    "analytics_monthly_trend",
    "analytics_segments",
]


def release_blocks(spark) -> int:
    """Count the RDDs still persisted after an op, then release them
    (and the SQL cache) so each op starts from the same storage state.
    Returns the count read before releasing."""
    pinned = spark.sparkContext._jsc.getPersistentRDDs()
    count = pinned.size()
    for jrdd in pinned.values():
        jrdd.unpersist(False)
    spark.catalog.clearCache()
    gc.collect()
    return count


@dataclass
class OpResult:
    ok: bool
    detail: str = ""
    pinned: int = 0  # persisted RDDs found (and released) after the op


@dataclass
class CatalogWorkload:
    """Catalog queries over generated TPC-H-ish tables. One op is one
    query function call plus ``count()``."""

    name: str
    queries: list[str]  # query-number prefixes, e.g. "q01"
    sf: float
    tables_read: list[str]
    nominal_pass_s: float
    cold: measure.Stopwatch = field(default_factory=measure.Stopwatch)
    data_dir: str = ""
    expected: dict[str, int] = field(default_factory=dict)
    specs: dict = field(default_factory=dict)
    input_rows: int = 0
    rng: np.random.Generator | None = None

    def prepare(self, spark, work_dir: str, seed: int) -> list[str]:
        """Generate the tables and compare every query once with its
        DuckDB oracle; return failure descriptions."""
        from car_insurance_data_pipeline_spark_spark.plans.catalog import specs
        from car_insurance_data_pipeline_spark_spark.testing import compare_frames, duckdb_connect

        self.data_dir = os.path.join(work_dir, "tables")
        rows = gen_warehouse.generate(self.data_dir, seed, self.sf)
        self.input_rows = sum(rows[t] for t in self.tables_read)
        self.rng = np.random.default_rng(seed)
        every = specs()
        full = {n.split("_", 1)[0]: n for n in every}
        self.specs = {q: every[full[q]] for q in self.queries}
        failures = []
        con = duckdb_connect(self.data_dir)
        try:
            for q, spec in self.specs.items():
                oracle = con.execute(spec.oracle).fetchdf()
                self.expected[q] = len(oracle)
                try:
                    # what testing.compare_query runs, with the Spark side timed
                    with self.cold.timing():
                        got = spec.fn(spark, self.data_dir).toPandas()
                except Exception as e:  # a raising query is a failed op, not a dead run
                    failures.append(f"{spec.name}: raised {type(e).__name__}: {str(e)[:300]}")
                    continue
                finally:
                    release_blocks(spark)
                res = compare_frames(spec.name, got, oracle)
                if not res.ok:
                    failures.append(f"{spec.name}: oracle mismatch {res.detail[:3]}")
        finally:
            con.close()
        return failures

    def pass_order(self) -> list[str]:
        """The op list of one pass, in an order drawn from the seed."""
        return [self.queries[i] for i in self.rng.permutation(len(self.queries))]

    def run_op(self, spark, q: str, hooks) -> OpResult:
        with hooks.phase("plans.build", "b"):
            df = self.specs[q].fn(spark, self.data_dir)
        with hooks.phase("plans.action", "a"):
            n = df.count()
        if n != self.expected[q]:
            return OpResult(False, f"{self.specs[q].name}: count {n} != {self.expected[q]}")
        return OpResult(True)

    def after_op(self, spark, q: str) -> OpResult:
        return OpResult(True, pinned=release_blocks(spark))


@dataclass
class InsuranceWorkload:
    """``plans.insurance.run_pipeline`` over generated raw CSVs. One op
    is one whole pipeline pass into a fresh output directory."""

    name: str
    scale: gen_insurance.Scale
    nominal_pass_s: float
    cold: measure.Stopwatch = field(default_factory=measure.Stopwatch)
    raw_dir: str = ""
    work_dir: str = ""
    segments: list = field(default_factory=list)
    input_rows: int = 0
    input_bytes: int = 0
    passes: int = 0
    files_written: list[int] = field(default_factory=list)
    bytes_written: list[int] = field(default_factory=list)

    @property
    def queries(self) -> list[str]:
        return ["run_pipeline"]

    def prepare(self, spark, work_dir: str, seed: int) -> list[str]:
        self.work_dir = work_dir
        self.raw_dir = os.path.join(work_dir, "raw")
        rows = gen_insurance.generate(self.raw_dir, seed, self.scale)
        self.input_rows = sum(rows.values())
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.raw_dir, f)) for f in rows
        )
        self.segments = self._expected_segments()
        try:
            with self.cold.timing():
                self.run_op(spark, "run_pipeline", None)
        except Exception as e:  # a raising pass is a failed op, not a dead run
            return [f"run_pipeline: raised {type(e).__name__}: {str(e)[:300]}"]
        checked = self.after_op(spark, "run_pipeline")
        return [] if checked.ok else [checked.detail]

    def _expected_segments(self) -> list[tuple]:
        """Segment totals recomputed in DuckDB from the raw CSVs, by the
        cleaning rules: currency symbols stripped, NULL or negative
        premium as 0, one segment per client from its lowest contract."""
        import duckdb

        csv = os.path.join(self.raw_dir, "contracts.csv")
        sql = f"""
        WITH raw AS (
          SELECT * FROM read_csv('{csv}', header = true, all_varchar = true)
          WHERE contract_id IS NOT NULL
        ), c AS (
          SELECT contract_id, client_id, csp,
                 TRY_CAST(regexp_replace(trim(annual_premium), '[€$£,\\s]', '', 'g') AS DOUBLE) AS p
          FROM raw
        ), dc AS (
          SELECT client_id, csp AS segment FROM (
            SELECT client_id, csp,
                   row_number() OVER (PARTITION BY client_id ORDER BY contract_id) AS rn
            FROM c) WHERE rn = 1
        )
        SELECT dc.segment,
               CAST(SUM(CAST(CASE WHEN p IS NULL OR p < 0 THEN 0.0 ELSE p END
                             AS DECIMAL(27, 6))) AS DOUBLE) AS total_premium,
               COUNT(*) AS total_policies
        FROM c JOIN dc USING (client_id) GROUP BY dc.segment
        """
        with duckdb.connect() as con:
            return sorted(con.execute(sql).fetchall(), key=repr)

    def pass_order(self) -> list[str]:
        return ["run_pipeline"]

    def _out_dir(self) -> str:
        return os.path.join(self.work_dir, f"warehouse-{self.passes}")

    def run_op(self, spark, q: str, hooks) -> OpResult:
        from car_insurance_data_pipeline_spark_spark.plans import insurance

        insurance.run_pipeline(spark, self.raw_dir, self._out_dir())
        return OpResult(True)

    def after_op(self, spark, q: str) -> OpResult:
        """Check the pass's outputs against the end-to-end invariants,
        record what it wrote, then delete the output directory."""
        import duckdb

        out = self._out_dir()
        self.passes += 1
        files = [
            os.path.join(d, f)
            for d, _, names in os.walk(out)
            for f in names
            if f.endswith(".parquet")
        ]
        self.files_written.append(len(files))
        self.bytes_written.append(sum(os.path.getsize(f) for f in files))

        def t(name: str) -> str:
            sub = "staged/" if name in ETL_TABLES[:5] else ""
            return f"read_parquet('{out}/{sub}{name}.parquet/*.parquet')"

        s = self.scale
        checks = {
            "fact_policy_snapshot rows": (f"SELECT count(*) FROM {t('fact_policy_snapshot')}", s.contracts),
            "cleaned_contracts rows": (f"SELECT count(*) FROM {t('cleaned_contracts')}", s.contracts),
            "fact_claims rows": (f"SELECT count(*) FROM {t('fact_claims')}", s.claims),
            "fact_driver_risk rows": (f"SELECT count(*) FROM {t('fact_driver_risk')}", s.devices),
            "policy FK orphans": (
                f"SELECT count(*) FROM {t('fact_policy_snapshot')} f "
                f"ANTI JOIN {t('dim_policy')} d USING (policy_key)",
                0,
            ),
            "customer FK orphans": (
                f"SELECT count(*) FROM {t('fact_policy_snapshot')} f "
                f"ANTI JOIN {t('dim_customer')} d USING (customer_key)",
                0,
            ),
            "claim FK orphans": (
                f"SELECT count(*) FROM {t('fact_claims')} f "
                f"ANTI JOIN {t('dim_policy')} d USING (policy_key)",
                0,
            ),
        }
        problems = []
        try:
            with duckdb.connect() as con:
                for what, (sql, want) in checks.items():
                    got = con.execute(sql).fetchone()[0]
                    if got != want:
                        problems.append(f"{what}: {got} != {want}")
                seg = sorted(
                    con.execute(
                        f"SELECT segment, total_premium, total_policies FROM {t('analytics_segments')}"
                    ).fetchall(),
                    key=repr,
                )
                if seg != self.segments:
                    problems.append(f"segment totals differ: {seg} != {self.segments}")
        except duckdb.Error as e:
            problems.append(f"output unreadable: {e}")
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return OpResult(not problems, "; ".join(problems))


LLM_QUERIES = "q34 q178 q113 q41 q38 q132".split()


def make(name: str):
    """A fresh workload by name."""
    if name == "insurance_etl":
        return InsuranceWorkload(
            name,
            gen_insurance.Scale(
                contracts=7_500, vehicles=2_700, claims=150, devices=30, events_per_device=2_900
            ),
            nominal_pass_s=6.5,
        )
    if name == "llm_operators":
        return CatalogWorkload(
            name,
            LLM_QUERIES,
            sf=0.01,
            tables_read=["documents", "embeddings"],
            nominal_pass_s=5.5,
        )
    raise KeyError(name)


WORKLOADS = ["insurance_etl", "llm_operators"]

"""Workload ``daily_increment``: the paper's production traffic.

Each op lands one trading day's B3 V2 raw file (about 400 stocks, about
5% duplicate rows, a few nulls), drains it through
``streaming.incremental.run_incremental_pipeline`` with
``plans.pipeline.transform_v2`` into the refined table partitioned by
``data_pregao``, and registers the day with
``sources.catalog.register_incremental``. The op is timed from the file
landing to the day being registered: data freshness. After each op two
point lookups read two stocks' rows for that day back through the
catalog table (the ``read`` op kind).

All raw files are generated from the seed during set-up. Correctness is
checked after the timed window against a DuckDB replay of
``transform_v2`` over the landed raw files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import string
import uuid
from pathlib import Path

import harness
from harness import Run, median

STOCKS = 400
DUP_FRAC = 0.05
# On one CPU the JIT compiler shares the CPU with the ops, and op times
# fell for about eight days before they levelled off; six warm-up days
# take most of that fall out of the window.
WARMUP_DAYS = 6
# Timed days per second of --seconds. A day (increment plus lookups) took
# 1.1-1.5 s on one pinned CPU of a 4-core x86 VM, so at --seconds 15 the
# window there is 17-23 s.
DAYS_PER_SECOND = 1.0
# Lookups per day: two give 30 per run at --seconds 15, enough for a tail
# percentile with 10 samples above it.
READS_PER_DAY = 2

SECTORS = (
    "Financeiro", "Energia", "Mineracao", "Varejo", "Saude", "Utilidades",
    "Telecom", "Construcao", "Agro", "Transporte", "Tecnologia", "Papel",
)
TIPOS = ("ON", "PN", "UNT", "ON NM", "PN N1", "PNA N1")
RAW_COLUMNS = (
    "setor", "codigo", "acao", "tipo", "porcentagem_participacao",
    "porcentagem_participacao_acumulada", "quantidade_teorica", "data_pregao",
)

TRACE_TARGETS = (
    (f"{harness.PACKAGE}.streaming.incremental", "run_incremental_pipeline", "incremental.drain"),
    (f"{harness.PACKAGE}.plans.pipeline", "transform_v2", "pipeline.plan"),
    (f"{harness.PACKAGE}.sources.sinks", "write_partitioned_parquet", "sinks.write"),
    (f"{harness.PACKAGE}.sources.catalog", "register_incremental", "catalog.register"),
)


def trading_days(n: int) -> list[str]:
    out, d = [], dt.date(2024, 1, 2)
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += dt.timedelta(days=1)
    return out


class RawGenerator:
    """Seeded B3 V2 raw files: one stock universe, one random walk of
    theoretical quantities, one file per trading day."""

    def __init__(self, seed: int, n_stocks: int):
        self.rng = random.Random(seed)
        codes: set[str] = set()
        self.stocks = []
        while len(self.stocks) < n_stocks:
            root = "".join(self.rng.choice(string.ascii_uppercase) for _ in range(4))
            code = root + self.rng.choice(("3", "4", "11"))
            if code in codes:
                continue
            codes.add(code)
            self.stocks.append(
                {
                    "codigo": code,
                    "acao": f"{root} SA",
                    "setor": self.rng.choice(SECTORS),
                    "tipo": self.rng.choice(TIPOS),
                    "qty": self.rng.randint(10**6, 5 * 10**9),
                }
            )

    def day(self, date: str) -> list[dict]:
        rng = self.rng
        rows, weights = [], []
        for s in self.stocks:
            if rng.random() < 0.03:  # not traded that day
                continue
            s["qty"] = max(1, int(s["qty"] * (1.0 + rng.gauss(0.0, 0.02))))
            rows.append(
                {
                    "setor": None if rng.random() < 0.01 else s["setor"],
                    "codigo": s["codigo"],
                    "acao": None if rng.random() < 0.01 else s["acao"],
                    "tipo": None if rng.random() < 0.01 else s["tipo"],
                    "quantidade_teorica": None if rng.random() < 0.005 else s["qty"],
                    "data_pregao": date,
                }
            )
            weights.append(s["qty"] * rng.uniform(0.5, 2.0))
        total, acc = sum(weights), 0.0
        for r, w in zip(rows, weights):
            pct = round(100.0 * w / total, 3)
            acc += pct
            r["porcentagem_participacao"] = None if rng.random() < 0.005 else pct
            r["porcentagem_participacao_acumulada"] = round(acc, 3)
        rows += [dict(r) for r in rng.sample(rows, round(DUP_FRAC * len(rows)))]
        rng.shuffle(rows)
        return rows


def write_raw(rows: list[dict], path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("setor", pa.string()),
            ("codigo", pa.string()),
            ("acao", pa.string()),
            ("tipo", pa.string()),
            ("porcentagem_participacao", pa.float64()),
            ("porcentagem_participacao_acumulada", pa.float64()),
            ("quantidade_teorica", pa.int64()),
            ("data_pregao", pa.string()),
        ]
    )
    table = pa.table({c: [r[c] for r in rows] for c in RAW_COLUMNS}, schema=schema)
    pq.write_table(table, path)


# DuckDB replay of transform_v2. Each landed file is one micro-batch, so
# the windows are partitioned by source file as well.
REPLAY_SQL = """
WITH src AS (
  SELECT DISTINCT filename, setor, codigo, acao, tipo, porcentagem_participacao,
    porcentagem_participacao_acumulada, quantidade_teorica, data_pregao
  FROM read_parquet({files}, filename = true)
), f AS (
  SELECT filename,
    coalesce(setor, 'UNKNOWN') AS setor,
    coalesce(codigo, 'UNKNOWN') AS codigo_acao,
    coalesce(acao, 'UNKNOWN') AS nome_acao,
    coalesce(tipo, 'UNKNOWN') AS tipo,
    coalesce(porcentagem_participacao, 0.0) AS porcentagem_participacao,
    coalesce(porcentagem_participacao_acumulada, 0.0)
      AS porcentagem_participacao_acumulada,
    coalesce(quantidade_teorica, 0) AS quantidade_teorica,
    coalesce(CAST(data_pregao AS VARCHAR), '1970-01-01') AS data_pregao
  FROM src
)
SELECT setor, codigo_acao, nome_acao, tipo, porcentagem_participacao,
  porcentagem_participacao_acumulada, quantidade_teorica, data_pregao,
  avg(quantidade_teorica) OVER (
    PARTITION BY filename, codigo_acao ORDER BY CAST(data_pregao AS TIMESTAMP)
    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS media_movel_7d_qtde_teorica,
  CAST(sum(quantidade_teorica) OVER (PARTITION BY filename, data_pregao, setor)
    AS BIGINT) AS total_qtde_teorica_setor_dia
FROM f
"""

OUT_COLUMNS = (
    "setor", "codigo_acao", "nome_acao", "tipo", "porcentagem_participacao",
    "porcentagem_participacao_acumulada", "quantidade_teorica", "data_pregao",
    "media_movel_7d_qtde_teorica", "total_qtde_teorica_setor_dia",
)
DOUBLE_COLUMNS = (
    "porcentagem_participacao", "porcentagem_participacao_acumulada",
    "media_movel_7d_qtde_teorica",
)


def _rounded_select(table: str) -> str:
    cols = [
        f"round({c}, 6) AS {c}" if c in DOUBLE_COLUMNS else c for c in OUT_COLUMNS
    ]
    return f"SELECT {', '.join(cols)} FROM {table}"


class DailyIncrement:
    name = "daily_increment"
    op_kind = "increment"  # the op behind op_p50_s and op_tail_s
    trace_targets = TRACE_TARGETS

    def __init__(self, run: Run):
        self.run = run
        self.db = f"perfbench_{uuid.uuid4().hex[:8]}"
        self.table = "refined_b3"
        d = run.dir / "daily"
        self.staging, self.landing = d / "staging", d / "landing"
        self.refined, self.ckpt = d / "refined", d / "checkpoint"
        self.n_days = WARMUP_DAYS + max(2, round(run.seconds * DAYS_PER_SECOND))
        self.days = trading_days(self.n_days)
        self.rng = random.Random(run.seed ^ 0x5EED)
        self.codes: dict[str, list[str]] = {}
        self.raw_bytes = 0
        self.reads: list[tuple[str, str, list[dict]]] = []

    def setup(self) -> None:
        from fiap_machine_learning_tech_challenge_2_etl_spark.plans import pipeline
        from fiap_machine_learning_tech_challenge_2_etl_spark.schemas import B3_RAW_V2
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources import catalog

        for p in (self.staging, self.landing):
            p.mkdir(parents=True)
        with self.run.phase("inputs"):
            gen = RawGenerator(self.run.seed, STOCKS)
            for day in self.days:
                rows = gen.day(day)
                self.codes[day] = sorted({r["codigo"] for r in rows})
                write_raw(rows, self.staging / f"b3_{day}.parquet")
        spark = self.run.spark
        with self.run.phase("catalog_table"):
            out_schema = pipeline.transform_v2(spark.createDataFrame([], B3_RAW_V2)).schema
            catalog.ensure_database(spark, self.db)
            catalog.ensure_external_table(
                spark, self.db, self.table, out_schema, ["data_pregao"], str(self.refined)
            )
        with self.run.phase("warm_up"):
            for day in self.days[:WARMUP_DAYS]:
                self._day(day, warm=True)

    def timed(self) -> None:
        for day in self.days[WARMUP_DAYS:]:
            self._day(day, warm=False)

    def _day(self, day: str, warm: bool) -> None:
        codes = self.rng.sample(self.codes[day], READS_PER_DAY)
        self.run.op("increment", lambda: self._increment(day), warm=warm)
        for code in codes:
            rows = self.run.op("read", lambda: self._lookup(day, code), warm=warm)
            self.reads.append((day, code, rows or []))

    def _increment(self, day: str) -> None:
        from fiap_machine_learning_tech_challenge_2_etl_spark.plans import pipeline
        from fiap_machine_learning_tech_challenge_2_etl_spark.schemas import B3_RAW_V2
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources import catalog
        from fiap_machine_learning_tech_challenge_2_etl_spark.streaming import incremental

        name = f"b3_{day}.parquet"
        os.rename(self.staging / name, self.landing / name)  # the file lands
        self.raw_bytes += os.path.getsize(self.landing / name)
        incremental.run_incremental_pipeline(
            self.run.spark,
            str(self.landing),
            B3_RAW_V2,
            pipeline.transform_v2,
            str(self.refined),
            str(self.ckpt),
            partition_by=["data_pregao"],
        )
        catalog.register_incremental(
            self.run.spark,
            self.db,
            self.table,
            f"{self.refined}/data_pregao={day}/",
            ["data_pregao"],
        )

    def _lookup(self, day: str, code: str) -> list[dict]:
        rows = self.run.spark.sql(
            f"SELECT * FROM {self.db}.{self.table} "
            f"WHERE data_pregao = '{day}' AND codigo_acao = '{code}'"
        ).collect()
        return [r.asDict() for r in rows]

    # -- correctness --------------------------------------------------------

    def check(self) -> list[str]:
        import duckdb

        from fiap_machine_learning_tech_challenge_2_etl_spark.sources import catalog

        errors = []
        landed = sorted(str(p) for p in self.landing.iterdir())
        if len(landed) != self.n_days:
            errors.append(f"{len(landed)} raw files landed, expected {self.n_days}")
        registered = {p["data_pregao"] for p in catalog.list_partitions(self.run.spark, self.db, self.table)}
        on_disk = {p.name.split("=", 1)[1] for p in self.refined.glob("data_pregao=*")}
        if registered != set(self.days):
            errors.append(f"catalog partitions differ from landed days: {sorted(registered ^ set(self.days))}")
        if on_disk != set(self.days):
            errors.append(f"refined partitions differ from landed days: {sorted(on_disk ^ set(self.days))}")
        spark_rows = self.run.spark.table(f"{self.db}.{self.table}").toPandas()
        con = duckdb.connect()
        try:
            con.register("spark_rows", spark_rows)
            files = "[" + ", ".join(f"'{f}'" for f in landed) + "]"
            con.execute("CREATE TABLE replay AS " + REPLAY_SQL.format(files=files))
            n_replay = con.execute("SELECT count(*) FROM replay").fetchone()[0]
            if n_replay != len(spark_rows):
                errors.append(f"refined rows {len(spark_rows)} != replay rows {n_replay}")
            for a, b in (("replay", "spark_rows"), ("spark_rows", "replay")):
                n = con.execute(
                    f"SELECT count(*) FROM ({_rounded_select(a)} EXCEPT ALL {_rounded_select(b)})"
                ).fetchone()[0]
                if n:
                    errors.append(f"{n} rows of {a} missing from {b}")
            checks = con.execute(
                "SELECT (SELECT sum(quantidade_teorica) FROM replay) = "
                "(SELECT sum(quantidade_teorica) FROM spark_rows), "
                "(SELECT sum(total_qtde_teorica_setor_dia) FROM replay) = "
                "(SELECT sum(total_qtde_teorica_setor_dia) FROM spark_rows)"
            ).fetchone()
            if not all(checks):
                errors.append(f"value checksums differ: {checks}")
            for day, code, rows in self.reads:
                want = con.execute(
                    f"{_rounded_select('replay')} WHERE data_pregao = ? AND codigo_acao = ?",
                    [day, code],
                ).fetchall()
                got = [
                    tuple(round(r[c], 6) if c in DOUBLE_COLUMNS else r[c] for c in OUT_COLUMNS)
                    for r in rows
                ]
                if got != want:
                    errors.append(f"lookup {day}/{code} returned {got}, expected {want}")
                    break
        finally:
            con.close()
        return errors

    # -- per-layer metrics ----------------------------------------------------

    def layer_metrics(self, tracer, events) -> dict[str, float]:
        from tracing import first_job_after

        ops = [o for o in self.run.ops if o["kind"] == "increment" and o["ok"]]
        drain, startup, plan, write, register = [], [], [], [], []
        for o in ops:
            within = (o["t0"], o["t1"])
            d = tracer.spans_named("incremental.drain", within)
            drain.append(sum(s[2] - s[1] for s in d))
            if d:
                first = first_job_after(events, d[0][1], d[0][2])
                if first is not None:
                    startup.append(first)
            plan.append(sum(s[2] - s[1] for s in tracer.spans_named("pipeline.plan", within)))
            write.append(sum(s[2] - s[1] for s in tracer.spans_named("sinks.write", within)))
            register.append(sum(s[2] - s[1] for s in tracer.spans_named("catalog.register", within)))
        q = max(1, len(drain) // 4)
        first_q = median(drain[:q])
        refined_bytes = harness.dir_bytes(self.refined, lambda f: f.endswith(".parquet"))
        return {
            "incremental.drain_s": median(drain),
            "incremental.startup_s": median(startup),
            "incremental.depth_ratio": median(drain[-q:]) / first_q if first_q else 0.0,
            "pipeline.plan_s": median(plan),
            "sinks.write_s": median(write),
            "sinks.bytes_per_input_byte": refined_bytes / self.raw_bytes if self.raw_bytes else 0.0,
            "catalog.register_s": median(register),
        }

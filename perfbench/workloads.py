"""The benchmark workloads.

Each workload is a closed loop with one client: the next call goes out
only after the previous one returned. A workload object owns its
generated inputs and the state one measured phase builds (lake,
warehouse, index); every call into the program is wrapped in a span of
the :class:`spans.Tracer` it is handed. ``HEADLINE`` names the span of
the workload's unit, whose median latency the run reports as
``op_p50_s``.

Interface used by ``run.py``:

- ``generate(dir)``: write the inputs for this seed (part of set-up);
- ``warmup(spark, dir)``: one unit on throwaway state (part of set-up);
- ``measure(spark, tracer, dir, deadline, traced)``: the closed loop,
  stopped at the first unit boundary after ``deadline``;
- ``check(spark)``: output checks of the last measured phase, as
  ``[(name, ok, detail)]``;
- ``detail(spans)``: the workload's own named end-to-end figures.

``layers.per_layer`` reads the rest (``space()``, ``recalls()``,
``phases``, ``stage_counts()``) where a workload, or one of its
``parts``, has them.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time

import numpy as np

import gen


def _noop(df) -> None:
    """Compute every column of every row, keep nothing (unlike count(),
    which lets Catalyst prune columns)."""
    df.write.format("noop").mode("overwrite").save()


def _durations(spans, name: str) -> list[float]:
    return [s.seconds for s in spans if s.name == name]


def median(xs) -> float:
    """Median of an iterable, 0.0 when it is empty."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest percentile (in steps of 5) that still has at least
    ten samples beyond it, and its value; with ten samples or fewer no
    percentile qualifies and the maximum (p100) is reported."""
    n = len(xs)
    if n <= 10:
        return (max(xs) if xs else 0.0), 100
    pct = int(100 * (1 - 10 / n)) // 5 * 5
    if pct < 5:
        return max(xs), 100
    return statistics.quantiles(sorted(xs), n=100, method="inclusive")[pct - 1], pct


def oracle_checks(spark, sf_dir: str, names: list[str]) -> list[tuple[str, bool, str]]:
    """Run each registry query once, collected, against its
    ``oracle_sql()`` twin on DuckDB over the same files, with the
    normalisation ``scripts/driver_sim.py`` uses. Untimed."""
    import glob

    import duckdb

    import __spark_entry__ as entry
    from airflow_crypto_etl_spark.operators import dedup as dd
    from scripts.driver_sim import _norm

    qs, oracles = entry.queries(), entry.oracle_sql()
    out = []
    con = duckdb.connect()
    try:
        for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
            table = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            try:
                df = qs[name](spark, sf_dir)
                cols = sorted(df.columns)
                rows = sorted(tuple(_norm(r[c]) for c in cols) for r in df.collect())
                cur = con.execute(oracles[name])
                onames = [d[0] for d in cur.description]
                order = sorted(range(len(onames)), key=lambda i: onames[i])
                orows = sorted(tuple(_norm(row[i]) for i in order) for row in cur.fetchall())
                ok = cols == sorted(onames) and rows == orows
                out.append((name, ok, "" if ok else f"{len(rows)} rows vs oracle {len(orows)}"))
            except Exception as exc:  # noqa: BLE001 - a query that raises is a failed check
                out.append((name, False, f"{type(exc).__name__}: {str(exc)[:200]}"))
            finally:
                dd.release_caches()
    finally:
        con.close()
    return out


class RegistryCalls:
    """Runs registry queries through the noop sink, one span each, and
    totals the seconds spent building each DataFrame (plan construction
    over py4j; some queries run jobs here), in Catalyst (traced runs
    only: read from the QueryPlanningTracker after forcing the executed
    plan, inside a probe span) and executing. ``units`` is what the
    totals are divided by."""

    PHASES = ("queries.build_s", "catalyst.optimize_s", "catalyst.plan_s", "execute_s")

    def __init__(self):
        import __spark_entry__ as entry

        self.qs = entry.queries()
        self.units = 0
        self.phases = dict.fromkeys(self.PHASES, 0.0)

    def run(self, spark, tracer, name: str, sf_dir: str, traced: bool) -> None:
        from airflow_crypto_etl_spark.operators import dedup as dd

        with tracer.span(f"q.{name}", "queries"):
            t0 = time.perf_counter()
            df = self.qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            if traced:
                with tracer.span("catalyst", "queries", probe=True):
                    self._catalyst(df)
            t2 = time.perf_counter()
            _noop(df)
            t3 = time.perf_counter()
        self.phases["queries.build_s"] += t1 - t0
        self.phases["execute_s"] += t3 - t2
        dd.release_caches()

    def _catalyst(self, df) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            key = {"optimization": "catalyst.optimize_s", "planning": "catalyst.plan_s"}.get(kv._1())
            if key:
                self.phases[key] += kv._2().durationMs() / 1000.0


# ---------------------------------------------------------------------------
# medallion_daily
# ---------------------------------------------------------------------------

def _medallion_job(ctx: dict) -> None:
    """Bronze (written), Silver and Gold for the ds from the extracted
    records, in one call of the public medallion job."""
    from airflow_crypto_etl_spark.plans import medallion

    medallion.run_pipeline(ctx["spark"], ctx["records"], ctx["lake_root"], ctx["ds"])


# One ``ds`` of the daily job as (span name, layer): ``control_plane.TASKS``
# in their order, except that the lake hop upload_raw ->
# transform_bronze_to_silver -> build_gold runs as
# ``medallion.run_pipeline``, which writes the same Bronze, Silver and Gold
# partitions. transform_bronze_to_silver reads Bronze back through
# ``medallion.bronze_read``, which parses the JSON-lines part files that
# upload_raw writes with ``multiLine=true`` and so keeps one record per
# part file: through those tasks a 2,000-coin day reaches Gold and the
# warehouse as a handful of coins, and every output check fails.
DAY_STEPS = [
    ("control_plane.create_tables", "sinks.jdbc_upsert"),
    ("control_plane.extract", "sources.rest"),
    ("medallion.run_pipeline", "plans.medallion"),
    ("control_plane.validate", "checks"),
    ("control_plane.load_dim", "sinks.jdbc_upsert"),
    ("control_plane.load_fact", "sinks.jdbc_upsert"),
    ("control_plane.load_gold_warehouse", "sinks.jdbc_upsert"),
    ("control_plane.validate_gold_row_count", "checks"),
    ("control_plane.validate_gold_sanity", "checks"),
    ("control_plane.validate_gold_freshness", "checks"),
    ("control_plane.validate_gold_sla", "checks"),
    ("control_plane.validate_gold", "checks"),
]


def day_steps() -> list[tuple[str, str, object]]:
    """``DAY_STEPS`` with their callables, as (span name, layer, fn)."""
    from airflow_crypto_etl_spark.plans import control_plane as cp

    fns = {f"control_plane.{t}": fn for t, fn in cp.TASKS} | {"medallion.run_pipeline": _medallion_job}
    return [(name, layer, fns[name]) for name, layer in DAY_STEPS]


class MedallionDaily:
    name = "medallion_daily"
    HEADLINE = "chain_day"

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.n_days = max(4, seconds)  # at most one chain day per second

    def generate(self, root: str) -> dict:
        self.inputs = gen.coin_days(os.path.join(root, "coins"), self.seed, self.n_days)
        return self.inputs["props"]

    def _ctx(self, spark, root: str) -> dict:
        return {
            "spark": spark,
            "lake_root": os.path.join(root, "lake"),
            "warehouse_url": f"jdbc:derby:{os.path.join(root, 'warehouse')};create=true",
        }

    def _day(self, base: dict, d: int) -> dict:
        day = self.inputs["days"][d]
        ds = dt.date.fromisoformat(day["ds"])
        return dict(
            base,
            ds=day["ds"],
            fixture_path=day["path"],
            pages=day["pages"],
            # inside the SLA window, so the gate passes on any wall clock
            now=dt.datetime.combine(ds + dt.timedelta(days=1), dt.time(8), tzinfo=dt.timezone.utc),
        )

    def warmup(self, spark, root: str) -> None:
        """The first day on a throwaway lake and warehouse."""
        ctx = self._day(self._ctx(spark, root), 0)
        for _, _, fn in day_steps():
            fn(ctx)

    def measure(self, spark, tracer, root: str, deadline: float, traced: bool) -> None:
        steps = day_steps()
        self.base = self._ctx(spark, root)
        self.ran: list[int] = []
        for d in self.inputs["schedule"]:
            if self.ran and time.perf_counter() >= deadline:
                break
            ctx = self._day(self.base, d)
            with tracer.span(self.HEADLINE, "plans.control_plane"):
                for name, layer, fn in steps:
                    with tracer.span(name, layer):
                        fn(ctx)
            self.ran.append(d)

    def check(self, spark) -> list[tuple[str, bool, str]]:
        from airflow_crypto_etl_spark.plans.control_plane import DERBY_DRIVER
        from airflow_crypto_etl_spark.sources.jdbc import read_jdbc

        def table(name: str):
            return read_jdbc(spark, url=self.base["warehouse_url"], table=name, driver=DERBY_DRIVER).collect()

        dim = {r["coin_id"] for r in table("dim_coin")}
        fact: dict[str, int] = {}
        for r in table("fact_price"):
            fact[r["dt"]] = fact.get(r["dt"], 0) + 1
        gold: dict[str, dict] = {}
        for r in table("gold_coins_daily"):
            gold.setdefault(r["dt"], {})[r["coin_id"]] = (
                r["avg_price_usd"], r["min_price_usd"], r["max_price_usd"], r["avg_market_cap"],
            )
        out = []
        want_dim: set[str] = set()
        n_fact_want = self.inputs["props"]["records_per_day"]
        for d in sorted(set(self.ran)):
            day = self.inputs["days"][d]
            want = day["gold"]
            want_dim |= set(want)
            got = gold.get(day["ds"], {})
            bad = [c for c, v in want.items() if c not in got or not np.allclose(got[c], v, rtol=1e-9, atol=0.0)]
            n_fact = fact.get(day["ds"], 0)
            ok = not bad and len(got) == len(want) and n_fact == n_fact_want
            out.append(
                (
                    f"ds {day['ds']}",
                    ok,
                    "" if ok else f"gold rows {len(got)}/{len(want)}, value mismatches {len(bad)}, "
                    f"fact rows {n_fact}/{n_fact_want}",
                )
            )
        out.append(("dim_coin", dim == want_dim, f"dim rows {len(dim)} want {len(want_dim)}"))
        return out

    def detail(self, spans) -> dict:
        days = _durations(spans, self.HEADLINE)
        return {
            "chain_day_p50_s": (median(days), "s"),
            "backfill_s": (sum(days), "s"),
            "days_run": (len(days), "count"),
            "reruns": (len(self.ran) - len(set(self.ran)), "count"),
        }


# ---------------------------------------------------------------------------
# training_release: the training-data side as one closed loop
# ---------------------------------------------------------------------------


class CorpusBuild:
    """The corpus part of a release day: ``build_training_corpus`` with
    ``final`` written by ``sinks.writers``, plus ``minhash_lsh_pairs``
    and ``winnow_fingerprints`` through the noop sink, over the next
    corpus of a seeded pool."""

    HEADLINE = "corpus_build"
    N_DOCS = 200
    POOL = 3
    N_SHARDS = 8

    def __init__(self, seed: int):
        self.seed = seed
        self.outputs: list[tuple[dict, str]] = []

    def generate(self, root: str) -> dict:
        # each corpus is the documents table of its own directory, so the
        # query registry can read it as an sf_dir too
        self.corpora = [
            gen.corpus(os.path.join(root, "docs", f"corpus_{k}", "documents.parquet"), self.seed,
                       self.N_DOCS, first_id=k * 10**7, stream=k)
            for k in range(self.POOL)
        ]
        self.warm = gen.corpus(os.path.join(root, "docs", "warm", "documents.parquet"), self.seed,
                               self.N_DOCS // 10, stream=99)
        return {**self.corpora[0]["props"], "corpora": self.POOL}

    def _build(self, spark, tracer, corpus: dict, out: str, traced: bool) -> None:
        from airflow_crypto_etl_spark.operators import dedup as dd
        from airflow_crypto_etl_spark.operators import llm_prep as lp
        from airflow_crypto_etl_spark.operators import text as tx
        from airflow_crypto_etl_spark.plans import corpus_pipeline as cpl
        from airflow_crypto_etl_spark.sinks import writers

        docs = spark.read.parquet(corpus["path"])
        stages = cpl.build_training_corpus(docs, n_shards=self.N_SHARDS)
        if traced:
            # the composite is lazy: force each operator's output on its
            # own so its time (including its lazy inputs) is visible
            with tracer.span("text.quality_score", "operators.text", probe=True):
                _noop(stages["scored"])
            with tracer.span("llm_prep.scrub_pii", "operators.llm_prep", probe=True):
                _noop(stages["scrubbed"])
            with tracer.span("dedup.exact_dedup", "operators.dedup", probe=True):
                _noop(stages["deduped"])
            with tracer.span("llm_prep.shuffle_shards", "operators.llm_prep", probe=True):
                _noop(lp.shuffle_shards(stages["deduped"], n_shards=self.N_SHARDS))
        with tracer.span("sinks.writers", "sinks.writers"):
            writers.write_partitioned(stages["final"], out, ["shard"])
        with tracer.span("dedup.minhash_lsh_pairs", "operators.dedup"):
            _noop(dd.minhash_lsh_pairs(docs))
        with tracer.span("text.winnow_fingerprints", "operators.text"):
            _noop(tx.winnow_fingerprints(docs))
        dd.release_caches()

    def warmup(self, spark, tracer, root: str) -> None:
        self._build(spark, tracer, self.warm, os.path.join(root, "release"), False)

    def release(self, spark, tracer, root: str, traced: bool) -> dict:
        """One corpus build over the next corpus of the pool; returns it."""
        i = len(self.outputs)
        corpus = self.corpora[i % self.POOL]
        out = os.path.join(root, "releases", f"build_{i:03d}")
        with tracer.span(self.HEADLINE, "plans.corpus_pipeline"):
            self._build(spark, tracer, corpus, out, traced)
        self.outputs.append((corpus, out))
        return corpus

    def stage_counts(self, spark) -> dict:
        """Row accounting on corpus 0 (counts must repeat exactly)."""
        from airflow_crypto_etl_spark.operators import dedup as dd
        from airflow_crypto_etl_spark.plans import corpus_pipeline as cpl

        docs = spark.read.parquet(self.corpora[0]["path"])
        n = cpl.stage_counts(cpl.build_training_corpus(docs, n_shards=self.N_SHARDS))
        pairs = dd.minhash_lsh_pairs(docs).count()
        dd.release_caches()
        return {
            "rows.scored": n["scored"],
            "rows.kept": n["kept"],
            "rows.deduped": n["deduped"],
            "rows.final": n["final"],
            "pairs.neardup": pairs,
        }

    def check(self, spark) -> list[tuple[str, bool, str]]:
        out = []
        for corpus, path in self.outputs:
            rows = spark.read.parquet(path).select("doc_id", "shard").collect()
            ids = [r["doc_id"] for r in rows]
            survivors = set(ids)
            problems = []
            if len(ids) != len(survivors):
                problems.append(f"{len(ids) - len(survivors)} docs in more than one shard row")
            if any(not 0 <= r["shard"] < self.N_SHARDS for r in rows):
                problems.append("shard out of range")
            for kind in ("exact_groups", "pii_groups"):
                for g in corpus[kind]:
                    if survivors & set(g) != {min(g)}:
                        problems.append(f"{kind[:-7]} group {g} -> {sorted(survivors & set(g))}")
                        break
            if survivors & set(corpus["junk"]):
                problems.append("junk survived")
            out.append((os.path.basename(path), not problems, "; ".join(problems)))
        return out

    def detail(self, spans) -> dict:
        return {"corpus_build_s": (median(_durations(spans, self.HEADLINE)), "s")}


class IndexDay:
    """The index part of a release day over a persisted IVF index
    (``plans.index_maintenance``): ``bootstrap_index`` once per phase,
    then per day ``append_batch``, the day's lookup batches (collected)
    and one ``maintenance_cycle``. Batches are drawn like the base
    corpus; the cycle compacts after every append (the index's write
    path: re-layout and publish) and never retrains, so every day costs
    alike."""

    LOOKUP = "index_maintenance.lookup"
    N_BASE = 2_000
    BATCH = 200
    LOOKUPS_PER_DAY = 1
    QUERIES = 20
    K = 10
    MIN_RECALL = 0.8
    COMPACT_AFTER = 1
    RETRAIN_SPREAD = 1e9

    def __init__(self, seed: int, n_days: int):
        self.seed = seed
        self.n_days = n_days

    def generate(self, root: str) -> dict:
        self.inputs = gen.embedding_stream(
            os.path.join(root, "vectors"), self.seed, self.N_BASE, self.n_days, self.BATCH,
            self.LOOKUPS_PER_DAY, self.QUERIES,
        )
        self.warm = gen.embedding_stream(
            os.path.join(root, "warm"), self.seed, self.N_BASE // 4, 1, self.BATCH // 4, 1, self.QUERIES // 4,
        )
        return {**self.inputs["props"], "compact_after_batches": self.COMPACT_AFTER}

    @staticmethod
    def _corpus(spark, inputs: dict, days: int):
        paths = [inputs["base"]["path"]] + [b["path"] for b in inputs["batches"][:days]]
        return spark.read.parquet(*paths)

    def start(self, spark, tracer, inputs: dict, root: str) -> None:
        """bootstrap_index over the base corpus."""
        from airflow_crypto_etl_spark.plans import index_maintenance as im

        self.root, self.inputs_run, self.results, self.actions = root, inputs, [], []
        with tracer.span("index_maintenance.bootstrap_index", "plans.index_maintenance"):
            im.bootstrap_index(spark, self._corpus(spark, inputs, 0), root)

    def day(self, spark, tracer, d: int) -> None:
        """Simulated day ``d`` (from 1)."""
        from airflow_crypto_etl_spark.plans import index_maintenance as im

        inputs, root = self.inputs_run, self.root
        with tracer.span("index_maintenance.append_batch", "plans.index_maintenance"):
            im.append_batch(spark, spark.read.parquet(inputs["batches"][d - 1]["path"]), root, batch_id=d)
        corpus = self._corpus(spark, inputs, d)
        for j, q in enumerate(inputs["lookups"][d - 1]):
            with tracer.span(self.LOOKUP, "plans.index_maintenance"):
                found = im.lookup(spark, spark.read.parquet(q["path"]), corpus, root, k=self.K)
                rows = found.select("query_id", "neighbor_id").collect()
            self.results.append((d, j, rows))
        with tracer.span("index_maintenance.maintenance_cycle", "plans.index_maintenance"):
            rec = im.maintenance_cycle(
                spark, corpus, root, compact_after_batches=self.COMPACT_AFTER,
                retrain_spread=self.RETRAIN_SPREAD,
            )
        self.actions.append(rec["action"])

    def warmup(self, spark, tracer, root: str) -> None:
        self.start(spark, tracer, self.warm, os.path.join(root, "index"))
        self.day(spark, tracer, 1)

    def recalls(self) -> list[float]:
        inp = self.inputs_run
        out = []
        for d, j, rows in self.results:
            xs = [inp["base"]["x"]] + [b["x"] for b in inp["batches"][:d]]
            ids = [inp["base"]["ids"]] + [b["ids"] for b in inp["batches"][:d]]
            q = inp["lookups"][d - 1][j]
            exact = gen.exact_topk(np.concatenate(xs), np.concatenate(ids), q["x"], self.K)
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            hits = sum(len(got.get(int(qid), set()) & want) for qid, want in zip(q["ids"], exact))
            out.append(hits / (self.K * len(exact)))
        return out

    def check(self, spark) -> list[tuple[str, bool, str]]:
        out = [
            (f"lookup {d}.{j}", r >= self.MIN_RECALL, f"recall@10 {r:.3f} < {self.MIN_RECALL}")
            for (d, j, _), r in zip(self.results, self.recalls())
        ]
        # one append since the last publish is due a compaction
        out += [
            (f"maintenance {d}", a == "compact", f"action {a}, want compact")
            for d, a in enumerate(self.actions, 1)
        ]
        return out

    def space(self) -> dict:
        n_bytes = n_files = 0
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
        versions = sum(1 for e in os.listdir(self.root) if e.startswith("v"))
        return {"index.bytes": n_bytes, "index.files": n_files, "index.versions": versions}

    def detail(self, spans) -> dict:
        lookups = _durations(spans, self.LOOKUP)
        t, pct = tail(lookups)
        rec = self.recalls()
        return {
            "lookup_p50_s": (median(lookups), "s"),
            "lookup_tail_s": (t, "s"),
            "lookup_tail_pct": (pct, "percentile"),
            "lookup_samples": (len(lookups), "count"),
            "append_p50_s": (median(_durations(spans, "index_maintenance.append_batch")), "s"),
            "maintenance_p50_s": (median(_durations(spans, "index_maintenance.maintenance_cycle")), "s"),
            "recall_at_10": (statistics.fmean(rec) if rec else 0.0, "ratio"),
        }


class TrainingRelease:
    """One release day per unit: a corpus build, the registry's JPEG
    decode over that corpus's documents and its streaming
    tumbling-window job over the release's interaction events, then one
    index day (append, lookups, maintenance)."""

    name = "training_release"
    HEADLINE = "release_day"
    N_EVENTS = 5_000
    QUERIES = ("q_multimodal_jpeg", "q_stream_tumbling")

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.corpus = CorpusBuild(seed)
        self.index = IndexDay(seed, max(4, seconds))  # at most one release day per second

    def generate(self, root: str) -> dict:
        self.events_dir = os.path.join(root, "events")
        ev = gen.events(os.path.join(self.events_dir, "events.parquet"), self.seed, self.N_EVENTS)
        return {
            **{f"corpus.{k}": v for k, v in self.corpus.generate(root).items()},
            **{f"index.{k}": v for k, v in self.index.generate(root).items()},
            **{f"events.{k}": v for k, v in ev["props"].items()},
        }

    def _slots(self, docs_dir: str) -> list[tuple[str, str]]:
        """The registry queries of one release, as (query, sf_dir): JPEG
        decode reads the release's documents, the streaming job its
        events."""
        return list(zip(self.QUERIES, (docs_dir, self.events_dir)))

    def warmup(self, spark, root: str) -> None:
        from spans import Tracer

        tracer = Tracer()
        self.corpus.warmup(spark, tracer, root)
        calls = RegistryCalls()
        for name, sf_dir in self._slots(os.path.dirname(self.corpus.warm["path"])):
            calls.run(spark, tracer, name, sf_dir, False)
        self.index.warmup(spark, tracer, root)

    def measure(self, spark, tracer, root: str, deadline: float, traced: bool) -> None:
        calls = RegistryCalls()
        self.parts = (self.corpus, self.index, calls)
        self.corpus.outputs = []
        self.index.start(spark, tracer, self.index.inputs, os.path.join(root, "index"))
        for d in range(1, self.index.n_days + 1):
            with tracer.span(self.HEADLINE, "plans"):
                corpus = self.corpus.release(spark, tracer, root, traced)
                self.slots = self._slots(os.path.dirname(corpus["path"]))
                for name, sf_dir in self.slots:
                    calls.run(spark, tracer, name, sf_dir, traced)
                self.index.day(spark, tracer, d)
            calls.units += 1
            if time.perf_counter() >= deadline:
                break

    def stage_counts(self, spark) -> dict:
        return self.corpus.stage_counts(spark)

    def check(self, spark) -> list[tuple[str, bool, str]]:
        out = self.corpus.check(spark) + self.index.check(spark)
        for name, sf_dir in self.slots:
            out += oracle_checks(spark, sf_dir, [name])
        return out

    def detail(self, spans) -> dict:
        return (
            {"release_day_p50_s": (median(_durations(spans, self.HEADLINE)), "s")}
            | self.corpus.detail(spans)
            | self.index.detail(spans)
            | {f"q.{q}_p50_s": (median(_durations(spans, f"q.{q}")), "s") for q in self.QUERIES}
        )


WORKLOADS = {w.name: w for w in (MedallionDaily, TrainingRelease)}

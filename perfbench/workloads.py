"""The benchmark's workloads. Each drives the package only through its
public calls, as one closed-loop client: the next operation starts when
the previous one has returned.

A workload has five steps. ``prepare`` makes the seeded inputs before
Spark starts. ``register`` and ``warmup`` are set-up. ``cycle`` is one
timed turn of the closed loop: new data lands in the lake (a backfill,
or an arrival batch) and then the six lake queries run. It keeps what
``verify`` needs, which runs after the timer stops. ``layers`` fills
the per-layer numbers of a traced run; on ``ingest_bulk`` that includes
passes of the headline query corpus (the ``queries`` layer).
"""

from __future__ import annotations

import datetime
import os
import random
import statistics
import time
from collections import Counter

import corpus
import tables
import verify
from tracing import EXEC_COUNTERS, exec_counters

from dicom_metadata_extractor_serverless_datalake_spark import DicomLake
from dicom_metadata_extractor_serverless_datalake_spark.ingest.archives import IGNORED_EXTS, TAR_EXTS, ZIP_EXTS, eval_ext
from dicom_metadata_extractor_serverless_datalake_spark.ingest.extract import extract_records
from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import headline_queries
from dicom_metadata_extractor_serverless_datalake_spark.sources.binary import DCM_RANGED_READ_BYTES, list_binary_objects

QUARANTINE_VIEW = "dicom_quarantine"
LAKE_QUERIES = ("date_filter", "modality_groupby", "family_name", "patient_id", "studies_per_date", "quarantine_count")
QUERY_ROUNDS = 2
STREAM_TIMINGS = {  # StreamingQueryProgress.durationMs key -> per-layer metric
    "triggerExecution": "streaming.trigger_s",
    "getBatch": "streaming.get_batch_s",
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
}
HEADLINE_SCALE = 2  # star tables at twice the row counts of the repository's sf0.01 test set
HEADLINE_PASSES = 2  # timed passes of the headline corpus, after one cold pass


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def parquet_files(*dirs: str) -> int:
    return sum(f.endswith(".parquet") for d in dirs for _, _, files in os.walk(d) for f in files)


class Workload:
    name = ""
    # per-layer metric prefixes of layers this workload never calls; the
    # traced run reports them as 0
    unused: tuple[str, ...] = ()
    # cycles a run makes even when the window is over: a fixed floor keeps
    # slow runs from medians and percentiles over fewer samples
    min_cycles = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = random.Random(f"{ctx.seed}/queries")
        self.asked: list[dict] = []  # lake query answers, checked after the timer
        self.split: dict[str, list[float]] = {}  # api.sql.<query>.<phase> -> traced samples
        self.units: list[dict] = []  # one per backfill or arrival batch

    def prepare(self) -> None: ...

    def register(self) -> None: ...

    def warmup(self) -> None: ...

    def cycle(self, i: int, traced: bool) -> None: ...

    def verify(self) -> None: ...

    def layers(self) -> None: ...

    # lake queries ---------------------------------------------------------

    def queries(self, lake: DicomLake, objs: list[corpus.Obj], i: int | None, traced: bool, rounds: int = QUERY_ROUNDS) -> None:
        """The Athena-style queries a user runs once new data is queryable,
        ``rounds`` times (a dashboard refreshing). ``i`` is None during
        warm-up: nothing is timed or kept."""
        c = self.ctx
        for r in range(rounds):
            for name, (sql, expect) in lake_queries(lake.table, objs, self.rng).items():
                t0 = time.perf_counter()
                with c.tracer.operation(f"api.sql.{name}", f"c{i}.q{r}.{name}"):
                    if traced:
                        df = lake.sql(sql)
                        df.columns
                        t1 = time.perf_counter()
                        df._jdf.queryExecution().executedPlan()
                        t2 = time.perf_counter()
                        result = df.collect()
                        t3 = time.perf_counter()
                        for phase, v in (("build_s", t1 - t0), ("plan_s", t2 - t1), ("exec_s", t3 - t2)):
                            self.split.setdefault(f"api.sql.{name}.{phase}", []).append(v)
                    else:
                        result = lake.sql(sql).collect()
                dt = time.perf_counter() - t0
                if i is not None:
                    c.attempted += 1
                    c.sample("op", dt, traced)
                    self.asked.append((name, sql, [tuple(row) for row in result], expect, objs))

    def check_answers(self, dropped: set[str]) -> None:
        """Compare every lake query answer with the manifest. ``dropped``
        holds objects the lake is known to lose (see verify.KNOWN_STREAM_DROP)."""
        for name, sql, got, expect, objs in self.asked:
            want = expect(objs, dropped)
            if sorted(got, key=repr) != sorted(want, key=repr):
                self.ctx.fail(f"lake query {name}", [f"{sql} -> {got[:5]}, want {want[:5]}"])

    # per-layer helpers ----------------------------------------------------

    def cycle_layers(self, ops_of_cycle: dict[int, list[str]]) -> None:
        """exec.* summed over each traced cycle's operations, and
        ingest.pipeline.* of the operation that lands the data (``c<i>.ingest``);
        each the median over traced cycles."""
        c = self.ctx
        per_cycle, pipe = [], []
        for i, ops in ops_of_cycle.items():
            per_cycle.append(exec_counters([s for op in ops for s in c.tracer.stages(op)]))
            ran = [s for s in c.tracer.stages(f"c{i}.ingest") if s["tasks"] > 0]
            pipe.append(
                {
                    "jobs": len({s["job"] for s in ran}),
                    "tasks": sum(s["tasks"] for s in ran),
                    "extract_stage_run_s": sum(s["executor_run_s"] for s in ran if s["output_records"] == 0),
                    "write_stage_run_s": sum(s["executor_run_s"] for s in ran if s["output_records"] > 0),
                    "input_bytes": sum(s["input_bytes"] for s in ran),
                }
            )
        for key in EXEC_COUNTERS:
            c.layer(f"exec.{key}", median(p[key] for p in per_cycle))
        for key in ("jobs", "tasks", "extract_stage_run_s", "write_stage_run_s", "input_bytes"):
            c.layer(f"ingest.pipeline.{key}", median(p[key] for p in pipe))
        for name in LAKE_QUERIES:
            for phase in ("build_s", "plan_s", "exec_s"):
                key = f"api.sql.{name}.{phase}"
                c.layer(key, median(self.split.get(key, [])))

    def unit_layers(self) -> None:
        """What each traced backfill or batch turned into, from the checked lake."""
        c = self.ctx
        units = [u for u in self.units if u["traced"]]
        for key in ("lake_files_written", "quarantine_rows", "ignored_objects"):
            c.layer(f"ingest.pipeline.{key}", median(u[key] for u in units))
        c.layer("ingest.archives.members_exploded", median(u["members_exploded"] for u in units))

    def extract_cpu(self, manifest: list[corpus.Obj], root: str, n: int = 300) -> None:
        """CPU time of dicom.codec + ingest.extract on one thread, over a
        fixed seeded sample of objects read the way the pipeline reads them."""
        sample = random.Random(self.ctx.seed).sample(manifest, min(n, len(manifest)))
        blobs = []
        for obj in sample:
            path = os.path.join(root, obj.rel)
            ext = eval_ext(path)
            if ext in IGNORED_EXTS:
                continue
            with open(path, "rb") as fh:
                blobs.append((path, fh.read() if ext in ZIP_EXTS | TAR_EXTS else fh.read(DCM_RANGED_READ_BYTES)))
        reps = []
        for _ in range(3):
            t0 = time.process_time()
            for path, content in blobs:
                for _row in extract_records(path, content):
                    pass
            reps.append(time.process_time() - t0)
        self.ctx.layer("ingest.extract.cpu_ms_per_object", median(reps) / len(sample) * 1e3)

    def headline_layers(self, root: str) -> None:
        """The ``queries`` layer: passes of the headline query corpus over
        the seeded star tables at ``root``, each query split into build
        (``spark_fn`` + schema), plan (``executedPlan()``) and exec
        (``collect()``). The seed permutes the query order of each pass.
        The first pass is cold and only checked; every answer is compared
        with DuckDB running the query's oracle SQL on the same files."""
        c = self.ctx
        queries = headline_queries()
        t0 = time.perf_counter()
        want = verify.duckdb_answers(root, {name: q.oracle for name, q in queries.items()})
        c.layer("queries.duckdb_pass_s", time.perf_counter() - t0)
        rng = random.Random(f"{c.seed}/headline")
        split: dict[str, list[float]] = {}
        passes, counters = [], []
        c.tracer.enabled = True
        for p in range(1 + HEADLINE_PASSES):
            order = sorted(queries)
            rng.shuffle(order)
            t_pass = time.perf_counter()
            for name in order:
                c.attempted += 1
                with c.tracer.operation(f"queries.{name}", f"h{p}.{name}"):
                    t0 = time.perf_counter()
                    df = queries[name].spark_fn(c.spark, root)
                    cols = df.columns
                    t1 = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    rows = df.collect()
                    t3 = time.perf_counter()
                if verify.canonical(cols, rows) != want[name]:
                    c.fail(f"headline {name} pass {p}", [f"{len(rows)} rows differ from the DuckDB oracle's {len(want[name])}"])
                if p:
                    for phase, v in (("build_s", t1 - t0), ("plan_s", t2 - t1), ("exec_s", t3 - t2)):
                        split.setdefault(f"queries.{name}.{phase}", []).append(v)
            if p:
                passes.append(time.perf_counter() - t_pass)
                counters.append(exec_counters([s for name in order for s in c.tracer.stages(f"h{p}.{name}")]))
        c.tracer.enabled = False
        c.layer("queries.pass_s", median(passes))
        for key, values in split.items():
            c.layer(key, median(values))
        for key in EXEC_COUNTERS:
            c.layer(f"queries.exec.{key}", median(p[key] for p in counters))


def lake_queries(table: str, objs: list[corpus.Obj], rng: random.Random) -> dict:
    """The six queries, each with its answer computed from the manifest of
    the objects that have arrived (less those the lake is known to drop)."""
    rows = [r for o in objs for r in o.rows]
    date, pick = rng.choice(rows).study_date, rng.choice(rows)

    def count(pred):
        return lambda objs, dropped: [(sum(pred(r) for o in objs for r in o.rows),)]

    def studies_per_date(objs, dropped):
        per: dict[str, set] = {}
        for o in objs:
            for r in o.rows:
                per.setdefault(r.study_date, set()).add(r.study_id)
        return [(datetime.date.fromisoformat(d), len(s)) for d, s in per.items()]

    return {
        "date_filter": (
            f"SELECT count(*) AS n FROM {table} WHERE study_date = DATE'{date}'",
            count(lambda r: r.study_date == date),
        ),
        "modality_groupby": (
            f"SELECT modality, count(*) AS n FROM {table} GROUP BY modality",
            lambda objs, dropped: list(Counter(r.modality for o in objs for r in o.rows).items()),
        ),
        "family_name": (
            f"SELECT count(*) AS n FROM {table} WHERE patient_name.family_name = '{pick.family_name}'",
            count(lambda r: r.family_name == pick.family_name),
        ),
        "patient_id": (
            f"SELECT count(*) AS n FROM {table} WHERE extra_tags['PatientID'] = '{pick.patient_id}'",
            count(lambda r: r.patient_id == pick.patient_id),
        ),
        "studies_per_date": (
            f"SELECT study_date, count(DISTINCT study_id) AS n FROM {table} GROUP BY study_date",
            studies_per_date,
        ),
        "quarantine_count": (
            f"SELECT count(*) AS n FROM {QUARANTINE_VIEW}",
            lambda objs, dropped: [(sum(o.quarantined for o in objs if o.rel not in dropped),)],
        ),
    }


def unit_stats(objs: list[corpus.Obj], root: str, rows: list[dict], qkeys: Counter) -> dict:
    """Lake and quarantine outcome of one backfill or batch."""
    keys = {os.path.join(root, o.rel): o for o in objs}
    seen = {r["key"] for r in rows} | set(qkeys)
    return {
        "quarantine_rows": sum(n for k, n in qkeys.items() if k in keys),
        "ignored_objects": sum(k not in seen for k in keys),
        "members_exploded": sum(r["key"] in keys and keys[r["key"]].cls in ("zip", "tar", "tgz") for r in rows),
    }


class IngestBulk(Workload):
    """Backfill of a mixed corpus into a fresh lake, then the lake queries."""

    name = "ingest_bulk"
    unused = ("streaming.", "api.df_s")
    min_cycles = 3
    N_OBJECTS = 800
    N_PRIME = 50
    WARM_PASSES = 1
    WARM_QUERY_ROUNDS = 4

    def prepare(self) -> None:
        c = self.ctx
        self.root = os.path.join(c.run_dir, "in", "corpus")
        self.manifest = corpus.generate(self.root, c.seed, self.N_OBJECTS)
        self.prime_root = os.path.join(c.run_dir, "in", "prime")
        self.prime = corpus.generate(self.prime_root, c.seed, self.N_PRIME, tag="w", large=False)
        self.tables = os.path.join(c.run_dir, "in", "tables")
        if c.trace:
            tables.write_tables(self.tables, c.seed, HEADLINE_SCALE)
        c.detail["input"] = {
            "objects": len(self.manifest),
            "bytes": sum(o.size for o in self.manifest),
            "classes": dict(Counter(o.cls for o in self.manifest)),
        }

    def _backfill(self, root: str, tag: str, op: str) -> tuple[DicomLake, float]:
        base = os.path.join(self.ctx.run_dir, "lakes", tag)
        lake = DicomLake(self.ctx.spark, base, quarantine_path=base + "_quarantine")
        t0 = time.perf_counter()
        with self.ctx.tracer.operation("api.ingest", op):
            lake.ingest(root)
            lake.quarantine().createOrReplaceTempView(QUARANTINE_VIEW)
        return lake, time.perf_counter() - t0

    def warmup(self) -> None:
        """A small cold backfill and a query round, then a full backfill
        and ``WARM_QUERY_ROUNDS`` rounds: the first full passes run about a
        quarter slower while the JIT warms up, and query rounds keep getting
        faster over the first four or five."""
        lake, _ = self._backfill(self.prime_root, "prime", "warm-up")
        self.queries(lake, self.prime, None, traced=False, rounds=1)
        self.warm = [(lake, self.prime, self.prime_root)]
        for k in range(self.WARM_PASSES):
            lake, _ = self._backfill(self.root, f"warm{k}", "warm-up")
            self.queries(lake, self.manifest, None, traced=False, rounds=self.WARM_QUERY_ROUNDS)
            self.warm.append((lake, self.manifest, self.root))

    def cycle(self, i: int, traced: bool) -> None:
        c = self.ctx
        c.attempted += 1
        lake, dt = self._backfill(self.root, f"c{i}", f"c{i}.ingest")
        c.sample("pass", dt, traced)
        self.units.append({"lake": lake, "traced": traced, "cycle": i})
        self.queries(lake, self.manifest, i, traced)

    def verify(self) -> None:
        c = self.ctx
        checks = [(lake, manifest, root, "warm-up backfill", None) for lake, manifest, root in self.warm]
        c.attempted += len(checks)  # warm-up backfills are checked too
        checks += [(u["lake"], self.manifest, self.root, f"backfill c{u['cycle']}", u) for u in self.units]
        for lake, manifest, root, what, unit in checks:
            rows = verify.lake_rows(lake.lake_path)
            qkeys = verify.quarantine_keys(lake.quarantine_path)
            tallies, misses, known = verify.conservation(manifest, root, rows, qkeys)
            if misses or known:
                c.fail(what, misses + known)
            if unit is not None:
                unit.update(unit_stats(manifest, root, rows, qkeys))
                unit["lake_files_written"] = parquet_files(lake.lake_path, lake.quarantine_path)
                unit["lake_files"] = parquet_files(lake.lake_path)
                c.detail["conservation"] = tallies
        self.check_answers(dropped=set())

    def layers(self) -> None:
        c = self.ctx
        traced = [u["cycle"] for u in self.units if u["traced"]]
        self.cycle_layers({i: [f"c{i}.ingest"] + [f"c{i}.q{r}.{q}" for r in range(QUERY_ROUNDS) for q in LAKE_QUERIES] for i in traced})
        self.unit_layers()
        c.layer("api.lake_files", median(u["lake_files"] for u in self.units if u["traced"]))
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            with c.tracer.span("sources.binary.list"):
                listing = list_binary_objects(c.spark, self.root)
            walls.append(time.perf_counter() - t0)
        c.layer("sources.binary.list_s", median(walls))
        c.layer("sources.binary.objects_listed", listing.count())
        self.extract_cpu(self.manifest, self.root)
        self.headline_layers(self.tables)


class LakeArrivals(Workload):
    """Arrival batches through ``DicomLake.watch``, then the lake queries."""

    name = "lake_arrivals"
    unused = ("sources.binary.", "queries.")
    BATCH = 200
    N_PRIME = 50
    WARM_BATCHES = 1

    def prepare(self) -> None:
        base = os.path.join(self.ctx.run_dir, "arrivals")
        self.landing = os.path.join(base, "landing")
        self.staging = os.path.join(base, "staging")
        self.ckpt = os.path.join(base, "checkpoint")
        os.makedirs(self.landing)
        self.lake_dir = os.path.join(base, "lake")
        self.quar_dir = os.path.join(base, "quarantine")
        self.arrived: list[corpus.Obj] = []
        self.progress: dict[int, list] = {}  # traced cycle -> its StreamingQueryProgress list
        # warm-up batches are inputs too: made here, outside set-up
        self.warm = [self._stage("w", self.N_PRIME)] + [self._stage(f"w{k}", self.BATCH) for k in range(self.WARM_BATCHES)]

    def register(self) -> None:
        self.lake = DicomLake(self.ctx.spark, self.lake_dir, quarantine_path=self.quar_dir)

    def warmup(self) -> None:
        """A small cold arrival, then one full batch: the first full batches
        run slower while the JIT warms up."""
        for staged in self.warm:
            self._arrive(*staged, None, traced=False)
            self.queries(self.lake, list(self.arrived), None, traced=False, rounds=1)

    def cycle(self, i: int, traced: bool) -> None:
        dt = self._arrive(*self._stage(f"b{i:03d}", self.BATCH), i, traced)
        if dt is not None:
            self.ctx.sample("pass", dt, traced)
        self.queries(self.lake, list(self.arrived), i, traced)

    def _stage(self, tag: str, n: int) -> tuple[str, str, list[corpus.Obj]]:
        """Generate one arrival batch in a staging directory next to the
        watched one (the same file system, so a rename is atomic)."""
        stage = os.path.join(self.staging, tag)
        batch = corpus.generate(stage, self.ctx.seed, n, tag=tag, flat=True, large=False)
        os.sync()
        return tag, stage, batch

    def _arrive(self, tag: str, stage: str, batch: list[corpus.Obj], i: int | None, traced: bool) -> float | None:
        """Land one staged batch flat in the watched directory by atomic
        renames and wait until it is queryable. Returns seconds from the
        last rename to a count that sees the batch, or None if the count
        is wrong."""
        c = self.ctx
        c.attempted += 1
        files_before = parquet_files(self.lake_dir, self.quar_dir) if traced else 0
        for obj in batch:
            os.rename(os.path.join(stage, obj.rel), os.path.join(self.landing, obj.rel))
        t0 = time.perf_counter()
        with c.tracer.operation("arrival", f"c{i}.arrival"):
            with c.tracer.span("streaming.start"):
                query = self.lake.watch(self.landing, self.ckpt, available_now=True)
            with c.tracer.span("streaming.await"):
                query.awaitTermination()
            with c.tracer.span("api.refresh"):
                self.lake.refresh()
                self.lake.quarantine().createOrReplaceTempView(QUARANTINE_VIEW)
            count = self.lake.sql(f"SELECT count(*) FROM {self.lake.table}").collect()[0][0]
        dt = time.perf_counter() - t0
        self.arrived.extend(batch)
        if i is not None:
            unit = {"objs": batch, "traced": traced, "cycle": i}
            if traced:
                c.tracer.add_group(f"c{i}.ingest", str(query.runId))
                self.progress[i] = query.recentProgress
                unit["lake_files_written"] = parquet_files(self.lake_dir, self.quar_dir) - files_before
            self.units.append(unit)
        want = sum(len(o.rows) for o in self.arrived)
        if query.exception() is not None or count != want:
            c.fail(f"arrival {tag}", [f"count after arrival is {count}, want {want}; {query.exception()}"])
            return None
        return dt

    def verify(self) -> None:
        c = self.ctx
        rows = verify.lake_rows(self.lake_dir)
        qkeys = verify.quarantine_keys(self.quar_dir)
        tallies, misses, known = verify.conservation(self.arrived, self.landing, rows, qkeys, streaming=True)
        c.detail["conservation"] = tallies
        if misses:
            c.fail("arrived objects", misses)
        c.known.extend(known)
        self.check_answers(dropped={k.split(":")[0] for k in known})
        for unit in self.units:
            unit.update(unit_stats(unit["objs"], self.landing, rows, qkeys))
        self.lake_files = parquet_files(self.lake_dir)

    def layers(self) -> None:
        c = self.ctx
        self.cycle_layers(
            {i: [f"c{i}.arrival", f"c{i}.ingest"] + [f"c{i}.q{r}.{q}" for r in range(QUERY_ROUNDS) for q in LAKE_QUERIES] for i in self.progress}
        )
        self.unit_layers()
        progress = list(self.progress.values())
        for key, metric in STREAM_TIMINGS.items():
            c.layer(metric, median(sum(p["durationMs"].get(key, 0) for p in prog) / 1e3 for prog in progress))
        triggers = [sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1e3 for prog in progress]
        c.layer("streaming.start_s", median(c.tracer.durations("streaming.start")))
        c.layer("streaming.stop_s", median(a - t for a, t in zip(c.tracer.durations("streaming.await"), triggers)))
        c.layer("api.df_s", median(c.tracer.durations("api.refresh")))
        c.layer("api.lake_files", self.lake_files)
        self.extract_cpu(self.arrived, self.landing)


WORKLOADS = {w.name: w for w in (IngestBulk, LakeArrivals)}

"""The workloads.  Each takes a :class:`run.Bench`, sets up, warms up, runs
its closed loop for ``bench.seconds``, checks every result against its model,
and fills ``bench.e2e`` (and, traced, ``bench.layer``).

Every workload has the same shape: ``SETUP_REPS`` fresh data set-ups (the
last one is kept), a warm-up, then the measured loop.  A traced run
(``--trace 1``) runs the measured loop twice, untraced then traced, so the
difference is the tracing overhead; its per-layer numbers come from the
traced loop and from direct calls into the layers on the same inputs.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from gen import TRICKLE, CdcStream, spark_checksum, write_event_file, write_olap_tables

# how many times each run repeats its data set-up; setup_s takes the median
SETUP_REPS = 3
# cdc_trickle: a live table of TRICKLE_KEYS keys takes TRICKLE_EVENTS-event files
TRICKLE_KEYS = 20_000
TRICKLE_EVENTS = 500
# the first ~8 steps after the snapshot run 10-20 % slower while the JIT warms
# up; the warm-up is repeated steady-state work, so it is not set-up time
TRICKLE_WARM_STEPS = 8
# olap_queries: fixture scale of the staged tables (lineitem ~ 60k rows)
OLAP_SF = 0.01
# passes after the first, untimed: the JIT keeps compiling through the first
# passes and each of them runs 10-40 % slower than the ones after
OLAP_WARM_PASSES = 3
QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "group_count",
    "agg_stats",
    "cdc_apply",
    "cdc_counts",
    "cdc_topk",
)

PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "materializer.add_batch_ms": "ms",
    "materializer.wal_commit_ms": "ms",
    "materializer.commit_offsets_ms": "ms",
    "materializer.jobs_per_batch": "count",
    "materializer.tasks_per_batch": "count",
    "materializer.buckets_touched_per_batch": "count",
    "materializer.bytes_written_per_event": "B/event",
    "materializer.files_written_per_batch": "count",
    "materializer.visible_p50_ms": "ms",
    "materializer.merge_ms_per_kevent": "ms/kevent",
    "materializer.read_state_ms": "ms",
    "materializer.lookup_ms": "ms",
    "materializer.lookup_files_read": "count",
    "materializer.state_files": "count",
    "materializer.state_bytes_per_row": "B/row",
    "cdc_apply.parse_ms_per_kevent": "ms/kevent",
    "cdc_apply.lww_ms_per_kevent": "ms/kevent",
    "cdc_apply.shuffle_bytes_per_event": "B/event",
    "cdc_apply.dead_letter_rows": "count",
    "catalog.stage_s": "s",
    **{
        f"operators.{q}.{m}": u
        for q in QUERIES
        for m, u in (("wall_ms", "ms"), ("cpu_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B"))
    },
    "artifacts.build_s": "s",
    "artifacts.cached_bytes": "B",
    "trace.overhead_ms": "ms",
}

_WIRE_SCHEMA = "`_seq` LONG, value STRING"


def _pct(samples: list[float], p: float) -> float:
    s = sorted(samples)
    return s[min(len(s) - 1, int(round(p / 100.0 * (len(s) - 1))))]


def tail(samples: list[float]) -> dict:
    """The highest of p50..p99.9 with at least ten samples beyond it."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if len(samples) * (1 - p / 100.0) >= 10:
            return {"percentile": p, "value": _pct(samples, p), "samples": len(samples)}
    return {"percentile": None, "value": None, "samples": len(samples)}


def finish_e2e(bench, setups: list[float], first_use_s: float, units: float, loop: dict,
               steps_ms: list[float]) -> None:
    """Fill the end-to-end metrics from one measured loop.  ``setup_s`` is
    the session start, the median data set-up and ``first_use_s``, the
    program's own work on first use of the data (0 when there is none)."""
    bench.e2e.update(
        setup_s=bench.session_s + statistics.median(setups) + first_use_s,
        throughput_per_s=units / loop["wall"],
        # the JIT compiler's CPU is left out: it is the JVM warming up, not
        # the program's work, and it varies from run to run
        throughput_per_cpu_s=units / (loop["cpu"] - loop["jit"]),
        step_p50_ms=statistics.median(steps_ms),
    )
    bench.log(f"measured {units:g} units in {loop['wall']:.1f}s")
    bench.details.update(
        session_s=bench.session_s,
        data_setup_s=setups,
        first_use_s=first_use_s,
        measured_wall_s=loop["wall"],
        measured_cpu_s=loop["cpu"],
        host_steal_s=loop["steal"],
        jit_cpu_s=loop["jit"],
        units=units,
        step_ms={"p50": statistics.median(steps_ms), "tail": tail(steps_ms)},
    )


# -- shared CDC helpers ---------------------------------------------------------

def _cfg(bench, name: str, base: str, **kw):
    from mysql_cdc_debezium_starrocks_spark.streaming import CdcLoadConfig

    return CdcLoadConfig(
        name=f"{name}_{bench.seed}",
        source_dir=os.path.join(base, "src"),
        state_dir=os.path.join(base, "state"),
        checkpoint_dir=os.path.join(base, "ckpt"),
        **kw,
    )


def _row_matches(rows, want: dict | None) -> bool:
    if want is None:
        return len(rows) == 0
    if len(rows) != 1:
        return False
    got = rows[0].asDict()
    return all(got.get(k) == v for k, v in want.items())


def _check_table(bench, cfg, stream: CdcStream) -> None:
    """Final count + checksum against the model, and the dead-letter count
    against the number of malformed events generated."""
    from mysql_cdc_debezium_starrocks_spark.streaming import read_state

    want = stream.checksum()
    if bench.wrong:
        want = (want[0], want[1] + 1)
    got = bench.op("read_state checksum", lambda: spark_checksum(read_state(bench.spark, cfg)))
    if got is not None:
        bench.check(got == want, f"state (rows, checksum) {got} != model {want}")
    dead = bench.op("dead-letter count", _dead_letters, bench.spark, cfg)
    if dead is not None:
        bench.check(dead == stream.malformed, f"dead letters {dead} != malformed {stream.malformed}")


def _dead_letters(spark, cfg) -> int:
    d = os.path.join(cfg.state_dir, "_dead_letter")
    return spark.read.parquet(d).count() if os.path.isdir(d) else 0


def _dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, parquet data files) under ``path``."""
    size = files = 0
    for dp, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dp, n))
            files += n.endswith(".parquet")
    return size, files


def _bucket_files(state_dir: str) -> dict[str, frozenset]:
    out = {}
    for dp, _, names in os.walk(state_dir):
        if "_dead_letter" in dp:
            continue
        files = frozenset(n for n in names if n.endswith(".parquet"))
        if files:
            out[dp] = files
    return out


def _progress_since(q, last_batch: int) -> list[dict]:
    return [p for p in q.recentProgress if p["batchId"] > last_batch and p["numInputRows"] > 0]


def _direct_layer_calls(bench, cfg, wire_dir: str, key_space: int) -> None:
    """Time the layers by calling them directly on this run's own inputs."""
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.cdc import latest_by_key, parse_envelope
    from mysql_cdc_debezium_starrocks_spark.streaming import merge_batch, read_state
    from mysql_cdc_debezium_starrocks_spark.streaming.materializer import point_lookup

    spark, win = bench.spark, bench.window
    raw = spark.read.schema(_WIRE_SCHEMA).json(wire_dir).persist()
    n = raw.count()
    kev = n / 1000.0

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    t = time.perf_counter()
    noop(parse_envelope(raw))
    bench.layer["cdc_apply.parse_ms_per_kevent"] = (time.perf_counter() - t) * 1e3 / kev
    parsed = parse_envelope(raw).persist()
    parsed.count()
    m = win.mark()
    t = time.perf_counter()
    noop(latest_by_key(parsed.filter(F.col(cfg.key).isNotNull()), cfg.key))
    bench.layer["cdc_apply.lww_ms_per_kevent"] = (time.perf_counter() - t) * 1e3 / kev
    bench.layer["cdc_apply.shuffle_bytes_per_event"] = win.since(m)["shuffle_bytes"] / n
    parsed.unpersist()

    # merge the same events into a copy of the live state
    scratch = bench.fresh("direct")
    copy = _cfg(bench, "direct", scratch, buckets=cfg.buckets)
    shutil.copytree(cfg.state_dir, copy.state_dir, dirs_exist_ok=True)
    t = time.perf_counter()
    merge_batch(spark, copy, raw)
    bench.layer["materializer.merge_ms_per_kevent"] = (time.perf_counter() - t) * 1e3 / kev
    raw.unpersist()

    t = time.perf_counter()
    noop(read_state(spark, cfg))
    bench.layer["materializer.read_state_ms"] = (time.perf_counter() - t) * 1e3

    rnd = random.Random(bench.seed)
    keys = [rnd.randrange(key_space) for _ in range(20)]
    lat, files = [], []
    for k in keys:
        m = win.mark()
        t = time.perf_counter()
        point_lookup(spark, cfg, k).collect()
        lat.append((time.perf_counter() - t) * 1e3)
        files.append(win.since(m)["files_read"])
    bench.layer["materializer.lookup_ms"] = statistics.median(lat)
    bench.layer["materializer.lookup_files_read"] = statistics.median(files)

    live = read_state(spark, cfg).count()
    size, nfiles = _dir_bytes(cfg.state_dir)
    bench.layer["materializer.state_files"] = nfiles
    bench.layer["materializer.state_bytes_per_row"] = size / max(1, live)
    bench.layer["cdc_apply.dead_letter_rows"] = _dead_letters(spark, cfg)


def _stop_idle(q, timeout: float = 30.0) -> None:
    """Stop a streaming query between micro-batches."""
    deadline = time.time() + timeout
    while time.time() < deadline and q.isActive:
        st = q.status
        if not st.get("isTriggerActive") and not st.get("isDataAvailable"):
            break
        time.sleep(0.05)
    q.stop()


# -- cdc_trickle -----------------------------------------------------------------

def cdc_trickle(bench) -> None:
    from mysql_cdc_debezium_starrocks_spark.streaming import start_cdc_load
    from mysql_cdc_debezium_starrocks_spark.streaming.materializer import point_lookup

    spark = bench.spark
    setups, q = [], None
    for rep in range(SETUP_REPS):
        if q is not None:
            _stop_idle(q)
        t = time.perf_counter()
        base = bench.fresh(f"trickle{rep}")
        cfg = _cfg(bench, f"trickle{rep}", base, trigger_seconds=0)
        stream = CdcStream(bench.seed, TRICKLE)
        write_event_file(cfg.source_dir, "00000.json", stream.snapshot(TRICKLE_KEYS))
        q = start_cdc_load(spark, cfg)
        q.processAllAvailable()
        setups.append(time.perf_counter() - t)
    rnd = random.Random(bench.seed * 7919 + 1)
    step_no = [0]

    def step(win: dict | None = None) -> tuple[float, float, int]:
        """Write one file, wait until it is visible, read one key back.
        With ``win``, adds what Spark did for the write (not the read)."""
        step_no[0] += 1
        lines, touched = stream.changes(TRICKLE_EVENTS)
        key = rnd.choice(touched)
        want = stream.expected(key)
        mark = bench.window.mark() if win is not None else None
        t0 = time.perf_counter()
        write_event_file(cfg.source_dir, f"{step_no[0]:05d}.json", lines)
        q.processAllAvailable()
        t1 = time.perf_counter()
        if win is not None:
            for k, v in bench.window.since(mark, sql=False).items():
                win[k] = win.get(k, 0) + v
        rows = point_lookup(spark, cfg, key).collect()
        t2 = time.perf_counter()
        bench.check(_row_matches(rows, want), f"lookup of key {key}: {rows} != model {want}")
        return (t1 - t0) * 1e3, (t2 - t0) * 1e3, len(lines)

    t = time.perf_counter()
    for _ in range(TRICKLE_WARM_STEPS):
        bench.op("warm-up step", step)
    warm = time.perf_counter() - t
    bench.log(f"set-up {setups}, warm-up {warm:.1f}s")

    def loop(traced: bool) -> dict:
        res = {"visible": [], "steps": [], "events": 0, "touched": [], "win": {}}
        last = q.lastProgress["batchId"] if q.lastProgress else -1
        before = _bucket_files(cfg.state_dir)
        loop_mark = bench.window.mark()
        start = bench.clock()
        while time.perf_counter() - start[0] < bench.seconds:
            r = bench.op("step", step, res["win"] if traced else None)
            if r is None:
                if not q.isActive:
                    break
                continue
            res["visible"].append(r[0])
            res["steps"].append(r[1])
            res["events"] += r[2]
            if traced:
                after = _bucket_files(cfg.state_dir)
                res["touched"].append(sum(1 for d, f in after.items() if before.get(d) != f))
                before = after
        res.update(bench.since(start))
        if traced:  # lookups write no files, so the whole loop's count is the merges'
            res["win"]["files_written"] = bench.window.since(loop_mark)["files_written"]
            res["progress"] = _progress_since(q, last)
        return res

    plain = loop(False)
    finish_e2e(bench, setups, 0.0, plain["events"], plain, plain["steps"])
    bench.details.update(
        warm_steps_s=warm,
        events_per_step=TRICKLE_EVENTS,
        state_keys=TRICKLE_KEYS,
        visible_ms={"p50": statistics.median(plain["visible"]), "tail": tail(plain["visible"])},
        step_samples_ms=plain["steps"],
    )
    if bench.trace:
        traced = loop(True)
        progress, win = traced["progress"], traced["win"]
        batches = max(1, len(progress))

        def med(key):  # per-batch phase times from the query's own progress
            return statistics.median(p["durationMs"].get(key, 0) for p in progress)

        bench.layer.update(
            {
                "sources.latest_offset_ms": med("latestOffset"),
                "sources.get_batch_ms": med("getBatch"),
                "materializer.add_batch_ms": med("addBatch"),
                "materializer.wal_commit_ms": med("walCommit"),
                "materializer.commit_offsets_ms": med("commitOffsets"),
                "materializer.jobs_per_batch": win["jobs"] / batches,
                "materializer.tasks_per_batch": win["tasks"] / batches,
                "materializer.files_written_per_batch": win["files_written"] / batches,
                "materializer.bytes_written_per_event": win["output_bytes"] / traced["events"],
                "materializer.buckets_touched_per_batch": statistics.mean(traced["touched"]),
                "materializer.visible_p50_ms": statistics.median(traced["visible"]),
                "trace.overhead_ms": statistics.median(traced["steps"]) - statistics.median(plain["steps"]),
            }
        )
    _stop_idle(q)
    _check_table(bench, cfg, stream)
    if bench.trace:
        steps = bench.fresh("step_files")
        for name in sorted(os.listdir(cfg.source_dir))[1:]:  # all but the snapshot
            shutil.copy(os.path.join(cfg.source_dir, name), steps)
        _direct_layer_calls(bench, cfg, steps, stream.next_key)


# -- olap_queries -----------------------------------------------------------------

def _stage(bench, src: str, dst: str) -> None:
    """Load every fixture table through the catalog and rewrite it as
    ``nproc`` files: the engine's own staging, as ``bench.py`` does it."""
    from mysql_cdc_debezium_starrocks_spark.catalog import TABLES, load

    parts = bench.spark.sparkContext.defaultParallelism
    for t in TABLES:
        load(bench.spark, src, t).repartition(parts).write.parquet(os.path.join(dst, f"{t}.parquet"))


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def _oracle(tables: str):
    import sys

    import duckdb

    from mysql_cdc_debezium_starrocks_spark.catalog import TABLES

    saved = list(sys.path)
    try:
        from tools.parity import df_to_multiset
    finally:
        sys.path[:] = saved  # the parity tool prepends its own repo path
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    return con, df_to_multiset


def _check_results(bench, staged: str, results: dict) -> None:
    """Each warm-up result against its DuckDB oracle (``oracle_sql()``).

    The oracle registry types its SQL against a small fixture set, so it
    gets one of ours instead of any tables outside this run."""
    import __spark_entry__ as entry

    canon = bench.fresh("canon")
    write_olap_tables(canon, bench.seed, 0.0)
    os.environ["SPARK_GRAFT_CANON_SF_DIR"] = canon
    oracles = entry.oracle_sql()
    con, multiset = _oracle(staged)
    for name, got in results.items():
        if got is None:  # the call raised, already counted as failed
            continue
        cols, rows, _ = got
        cur = con.execute(oracles[name])
        want = cur.fetchall()
        if bench.wrong and name == QUERIES[0]:
            want = want[1:]
        exp = multiset([d[0] for d in cur.description], want)
        bench.check(multiset(cols, rows) == exp, f"{name}: Spark result != DuckDB oracle")


def olap_queries(bench) -> None:
    import __spark_entry__ as entry

    spark = bench.spark
    registry = entry.queries()
    parts = spark.sparkContext.defaultParallelism
    setups = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        staged = bench.fresh(f"tables{rep}")
        write_olap_tables(staged, bench.seed, OLAP_SF, parts)
        setups.append(time.perf_counter() - t)

    def first_call(name: str):
        t0 = time.perf_counter()
        sdf = registry[name](spark, staged)
        rows = [tuple(r) for r in sdf.collect()]
        return list(sdf.columns), rows, (time.perf_counter() - t0) * 1e3

    def noop_call(name: str, root: str = staged) -> None:
        registry[name](spark, root).write.mode("overwrite").format("noop").save()

    # warm-up: every query once, in order, each result kept for the oracle
    t = time.perf_counter()
    results = {n: bench.op(f"first call {n}", first_call, n) for n in QUERIES}
    warm = time.perf_counter() - t
    bench.log(f"set-up {setups}, warm-up {warm:.1f}s")

    def timed_pass(res: dict, traced: bool, root: str = staged) -> None:
        p0 = time.perf_counter()
        for name in QUERIES:
            mark = bench.window.mark() if traced else None
            c = bench.cpu_s() if traced else 0.0
            q0 = time.perf_counter()
            ok = bench.op(f"query {name}", lambda: noop_call(name, root) or True)
            ms = (time.perf_counter() - q0) * 1e3
            if not ok:
                continue
            res["ms"][name].append(ms)
            res["queries"] += 1
            if traced:
                w = bench.window.since(mark, sql=False)
                bench.layer[f"operators.{name}.cpu_s"] = bench.cpu_s() - c
                bench.layer[f"operators.{name}.shuffle_bytes"] = w["shuffle_bytes"]
                bench.layer[f"operators.{name}.spill_bytes"] = w["spill_bytes"]
        res["passes"].append((time.perf_counter() - p0) * 1e3)

    def new_res() -> dict:
        return {"ms": {n: [] for n in QUERIES}, "passes": [], "queries": 0}

    t = time.perf_counter()
    for _ in range(OLAP_WARM_PASSES):
        timed_pass(new_res(), False)
    bench.details["warm_passes_s"] = time.perf_counter() - t

    def loop(traced: bool) -> dict:
        res = new_res()
        start = bench.clock()
        while time.perf_counter() - start[0] < bench.seconds:
            timed_pass(res, traced)  # whole passes, so every query is timed
        res.update(bench.since(start))
        return res

    plain = loop(False)
    finish_e2e(bench, setups, warm, plain["queries"], plain, plain["passes"])
    steady = {n: statistics.median(v) for n, v in plain["ms"].items() if v}
    first_ms = {n: r[2] for n, r in results.items() if r is not None}
    bench.details.update(passes=len(plain["passes"]), query_ms=steady, first_call_ms=first_ms)
    if bench.trace:
        traced = loop(True)
        for name, v in traced["ms"].items():
            if v:
                bench.layer[f"operators.{name}.wall_ms"] = statistics.median(v)
        bench.layer["trace.overhead_ms"] = statistics.median(traced["passes"]) - statistics.median(plain["passes"])
        bench.layer["artifacts.cached_bytes"] = _cached_bytes(spark)
        # the engine's staging of the same tables; the artifact cache is
        # keyed by dataset path, so on the copy every artifact is built again
        copy = bench.fresh("restaged")
        t = time.perf_counter()
        _stage(bench, staged, copy)
        bench.layer["catalog.stage_s"] = time.perf_counter() - t
        build_s = 0.0
        for name in QUERIES:
            cached = _cached_bytes(spark)
            q0 = time.perf_counter()
            noop_call(name, copy)
            if _cached_bytes(spark) > cached:
                build_s += max(0.0, time.perf_counter() - q0 - steady[name] / 1e3)
        bench.layer["artifacts.build_s"] = build_s
    _check_results(bench, staged, results)

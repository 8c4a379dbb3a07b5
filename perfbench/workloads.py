"""The two workloads, their correctness checks and their metrics.

task_batch    the analyst path: a closed loop of seeded task_param
              tasks through modules.run_task (all four modules), every
              returned table materialized through the noop sink.
ad_stream     the operator path: a day-per-file click log replayed
              file by file (maxFilesPerTrigger=1) through the
              blacklist feedback loop, the RocksDB running totals and
              the sliding trend.

Each run: session start and input generation, the workload's
oracle-covered registry entries once against their DuckDB SQL (the
cold pass, outside the timed loop, which also warms every code path
the loop uses), then the timed loop for --seconds, in whole units (a
task, a drain of all three streams): the first always runs, and
another starts only if it would end in time.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from spans import (
    GROUP_KEYS,
    Progress,
    RssSampler,
    Tracer,
    count_failures,
    p50,
    parse_event_log,
    tail,
)

# name -> unit; BENCHMARK.json lists the same names
E2E = {
    "setup_s": "s",
    "p50_ms": "ms",
    "rate_per_s": "1/s",
}
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "modules.plan_s": "s",
    "modules.session.exec_s": "s",
    "modules.page.exec_s": "s",
    "modules.area.exec_s": "s",
    "modules.ad.exec_s": "s",
    "spark.jobs_per_task": "count",
    "spark.stages_per_task": "count",
    "spark.tasks_per_task": "count",
    "executor.busy_share": "share",
    "sources.events_scans_per_task": "count",
    "sources.rows_read_per_row_in_range": "ratio",
    "shuffle.write_bytes_per_task": "bytes",
    "spill.bytes_per_task": "bytes",
    "stream.blacklist.batches": "count",
    "stream.totals.batches": "count",
    "stream.trend.batches": "count",
    "stream.blacklist.batch_p50_ms": "ms",
    "stream.totals.batch_p50_ms": "ms",
    "stream.trend.batch_p50_ms": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "state.commit_ms_p50": "ms",
    "state.rows": "count",
    "state.memory_bytes": "bytes",
    "blacklist.process_batch_ms_p50": "ms",
    "blacklist.dropped_clicks": "count",
    "spark.jobs_per_batch": "count",
}

SIZES = {
    "full": {
        "events": gen.SF01["events"],
        "replay_days": 4,
        "heavy_users": 3,
        "heavy_clicks": 120,
    },
    "tiny": {
        "events": 3_000,
        "replay_days": 3,
        "heavy_users": 2,
        "heavy_clicks": 110,
    },
}

GATE = {
    "task_batch": (
        "run_task_session_aggr",
        "run_task_page_convert",
        "run_task_area_top3",
        "run_task_ad_province_top3",
    ),
    "ad_stream": (
        "streaming_ad_running_totals",
        "streaming_sliding_trend",
        "ad_blacklist_feedback",
    ),
}

# run_task's output tables by module; checked against what it returns
MODULE_TABLES = {
    "session": (
        "session_aggr_stat",
        "session_random_extract",
        "session_detail",
        "top10_category",
        "top10_session",
    ),
    "page": ("page_split_convert_rate",),
    "area": ("area_top3_product",),
    "ad": (
        "ad_user_click_count",
        "ad_blacklist",
        "ad_stat",
        "ad_province_top3",
        "ad_click_trend",
    ),
}
BLACKLIST_THRESHOLD = 100


class Run:
    """One run's arguments, sizes, correctness tallies and the detail
    record it prints."""

    def __init__(self, args) -> None:
        self.args = args
        self.size = SIZES[args.scale]
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failures: list[str] = []
        self.detail: dict = {"workload": args.workload, "seed": args.seed}
        self.named: dict[str, dict] = {}  # workload-specific metrics, detail line

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def name(self, key: str, value: float, unit: str, n: int) -> None:
        self.named[key] = {"value": value, "unit": unit, "n": n}

    def units(self):
        """Indices of the timed loop's units: the first always runs;
        another starts only if a unit as long as the last one still
        ends within --seconds, so a run never overshoots by a unit."""
        t0, i, last = time.perf_counter(), 0, 0.0
        while True:
            start = time.perf_counter()
            if i >= 1 and start - t0 + last > self.args.seconds:
                return
            yield i
            last = time.perf_counter() - start
            i += 1


# ---- inputs ---------------------------------------------------------------


def _generate(run: Run, out: str) -> dict:
    s, w = run.size, run.args.workload
    seed = run.args.seed
    if w == "task_batch":
        gen.write_dims(seed, out)
        return gen.write_events(seed, out, s["events"])
    return gen.write_click_log(
        seed, out, s["replay_days"], s["heavy_users"], s["heavy_clicks"]
    )


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ---- correctness gate -----------------------------------------------------


def _gate(run: Run, spark, tr: Tracer, inputs: str) -> float:
    """The workload's oracle-covered registry entries on the generated
    inputs, each compared with its DuckDB ORACLE SQL by
    tools/check_oracle.compare.  Returns the Spark-side wall time."""
    import duckdb

    from analysisofuserbehavior_spark.oracle import ORACLE
    from analysisofuserbehavior_spark.registry import QUERIES
    from analysisofuserbehavior_spark.session import release_query_resources
    from tools.check_oracle import compare

    con = duckdb.connect()
    for f in sorted(os.listdir(inputs)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{inputs}/{f}')"
            )
    cold = 0.0
    for name in GATE[run.args.workload]:
        with tr.span(f"gate.{name}") as s:
            sdf = QUERIES[name](spark, inputs).toPandas()
        cold += s["wall_s"]
        run.detail.setdefault("gate_s", {})[name] = s["wall_s"]
        release_query_resources(spark)
        problems = compare(name, sdf, con.execute(ORACLE[name]).fetchdf())
        run.check(not problems, f"gate {name}: {'; '.join(problems)}")
        run.detail.setdefault("gate_rows", {})[name] = len(sdf)
    con.close()
    return cold


# ---- task_batch -----------------------------------------------------------


def _task_batch(run: Run, spark, tr: Tracer, inputs: str) -> dict:
    from analysisofuserbehavior_spark.modules import run_task

    tasks = gen.task_params(run.args.seed, 256)
    ts = pq.read_table(f"{inputs}/events.parquet", columns=["ts"]).column("ts")
    expected = {t for tables in MODULE_TABLES.values() for t in tables}
    walls = []
    for done in run.units():
        raw = tasks[done % len(tasks)]
        with tr.span("modules.run_task", task=done) as s:
            out = run_task(spark, raw, inputs, modules=tuple(MODULE_TABLES))
        wall = s["wall_s"]
        run.check(set(out) == expected, f"task {done}: tables {sorted(out)}")
        for module, tables in MODULE_TABLES.items():
            with tr.span(f"modules.{module}.exec", task=done) as s:
                for t in tables:
                    out[t].write.format("noop").mode("overwrite").save()
            wall += s["wall_s"]
        walls.append(wall)
        # events in the task's date range, the base of the pushdown ratio
        task = json.loads(raw)
        lo = dt.datetime.fromisoformat(task["startDate"][0])
        hi = dt.datetime.fromisoformat(task["endDate"][0]) + dt.timedelta(days=1)
        s["rows_in_range"] = pc.sum(
            pc.and_(
                pc.greater_equal(ts, pa.scalar(lo, ts.type)),
                pc.less(ts, pa.scalar(hi, ts.type)),
            )
        ).as_py()
    run.name("task_p50_s", p50(walls), "s", len(walls))
    return {
        "p50_ms": 1000 * p50(walls),
        "rate_per_s": len(walls) / sum(walls),
        "samples": walls,
    }


def _walls(spans: list[dict], name: str) -> list[float]:
    return [s["wall_s"] for s in spans if s["name"] == name]


def _task_layers(run: Run, spans: list[dict], groups: dict) -> dict:
    per_task: dict[int, dict] = {}
    for s in spans:
        if "task" not in s:
            continue
        acc = per_task.setdefault(
            s["task"], {"wall": 0.0, "rows": 0, **dict.fromkeys(GROUP_KEYS, 0)}
        )
        acc["wall"] += s["wall_s"]
        acc["rows"] = max(acc["rows"], s.get("rows_in_range", 0))
        for k, v in groups.get(s["group"], {}).items():
            acc[k] += v
    tasks = list(per_task.values())
    wall = sum(t["wall"] for t in tasks)
    rows = sum(t["rows"] * t["scans"] for t in tasks)
    out = {
        "modules.plan_s": p50(_walls(spans, "modules.run_task")),
        "spark.jobs_per_task": p50(t["jobs"] for t in tasks),
        "spark.stages_per_task": p50(t["stages"] for t in tasks),
        "spark.tasks_per_task": p50(t["tasks"] for t in tasks),
        "executor.busy_share": sum(t["run_ms"] for t in tasks) / (1000 * wall * run.cores),
        "sources.events_scans_per_task": p50(t["scans"] for t in tasks),
        "sources.rows_read_per_row_in_range": (
            sum(t["scan_rows"] for t in tasks) / rows if rows else 0.0
        ),
        "shuffle.write_bytes_per_task": p50(t["shuffle_write"] for t in tasks),
        "spill.bytes_per_task": p50(t["spill"] for t in tasks),
    }
    for m in MODULE_TABLES:
        out[f"modules.{m}.exec_s"] = p50(_walls(spans, f"modules.{m}.exec"))
    return out


# ---- ad_stream ------------------------------------------------------------


def _ad_stream(run: Run, spark, tr: Tracer, inputs: str, listener: Progress) -> dict:
    from analysisofuserbehavior_spark.session import scratch_dir
    from analysisofuserbehavior_spark.streaming.ad_stream import (
        BlacklistLoop,
        read_event_stream,
        run_to_completion,
        sliding_click_trend,
    )
    from analysisofuserbehavior_spark.streaming.stateful import running_click_totals

    replay = f"{inputs}/replay"
    drains, batches, per_file = [], [], []
    rows_in = 0
    for done in run.units():
        base = scratch_dir(prefix=f"drain{done}_")
        loop = BlacklistLoop(f"{base}/state", threshold=BLACKLIST_THRESHOLD)
        inner, proc_ms = loop.process_batch, []

        def timed_batch(batch, epoch_id, inner=inner, proc_ms=proc_ms):
            t = time.perf_counter()
            inner(batch, epoch_id)
            proc_ms.append(1000 * (time.perf_counter() - t))

        loop.process_batch = timed_batch
        drain, file_ms = 0.0, {}
        for q, call in (
            ("blacklist", lambda: loop.run(read_event_stream(spark, replay, 1), f"{base}/ckpt")),
            (
                "totals",
                lambda: run_to_completion(
                    running_click_totals(read_event_stream(spark, replay, 1)),
                    f"pb_totals_{done}",
                    mode="update",
                    state_provider="rocksdb",
                ),
            ),
            (
                "trend",
                lambda: run_to_completion(
                    sliding_click_trend(read_event_stream(spark, replay, 1)),
                    f"pb_trend_{done}",
                ),
            ),
        ):
            mark = len(listener.progress)
            with tr.span(f"stream.{q}", drain=done) as s:
                call()
            listener.wait_terminated()
            drain += s["wall_s"]
            s["progress"] = listener.since(mark)
            for p in s["progress"]:
                ms = p["durationMs"].get("triggerExecution", 0)
                batches.append(ms)
                file_ms[p["batchId"]] = file_ms.get(p["batchId"], 0) + ms
                rows_in += p.get("numInputRows", 0)
            if q == "blacklist":
                s["process_ms"] = proc_ms
        drains.append(drain)
        per_file.extend(file_ms.values())
        if done == 0:
            _check_stream(run, spark, inputs, loop)
    bt, pct = tail(batches)
    run.name("stream_events_per_s", rows_in / sum(drains), "1/s", len(drains))
    run.name("batch_p50_ms", p50(batches), "ms", len(batches))
    run.name("batch_tail_ms", bt, "ms", len(batches))
    run.name("file_p50_ms", p50(per_file), "ms", len(per_file))
    run.detail["batch_tail_percentile"] = pct
    return {
        "p50_ms": p50(per_file),
        "rate_per_s": rows_in / sum(drains),
        "samples": per_file,
    }


def _replay_frames(inputs: str):
    """The replay files in mtime order, as pandas frames of clicks with
    the stream's derived day/ad_id keys."""
    import glob

    files = sorted(glob.glob(f"{inputs}/replay/*.parquet"), key=os.path.getmtime)
    for f in files:
        df = pq.read_table(f).to_pandas()
        df = df[df.event_type == "click"]
        df = df.assign(
            day=df.ts.dt.strftime("%Y-%m-%d"),
            ad_id=df.props.str.extract(r"(\d+)")[0].astype("int64") % 10,
        )
        yield df


def _check_stream(run: Run, spark, inputs: str, loop) -> None:
    """The first drain's outputs against a pandas replay of the same
    files: blacklist-loop totals (threshold feedback batch by batch),
    the final running totals and the sliding-trend counts."""
    import pandas as pd

    from analysisofuserbehavior_spark.streaming.stateful import final_totals

    totals = None
    for df in _replay_frames(inputs):
        if totals is not None:
            banned = totals.loc[totals.click_count >= BLACKLIST_THRESHOLD, "user_id"]
            df = df[~df.user_id.isin(set(banned))]
        delta = df.groupby(["day", "user_id", "ad_id"]).size().rename("click_count").reset_index()
        totals = (
            delta
            if totals is None
            else pd.concat([totals, delta]).groupby(["day", "user_id", "ad_id"], as_index=False).sum()
        )
    got = loop.current_totals(spark).toPandas()
    key = ["day", "user_id", "ad_id"]
    ok = got.sort_values(key).reset_index(drop=True).astype({"click_count": "int64"}).equals(
        totals.sort_values(key).reset_index(drop=True).astype({"click_count": "int64"})
    )
    run.check(ok, "blacklist loop totals differ from the pandas replay")
    clicks = pd.concat(list(_replay_frames(inputs)))
    run.detail["blacklist_dropped_clicks"] = int(len(clicks) - got.click_count.sum())

    want = clicks.groupby(["day", "ad_id"]).size().rename("click_count").reset_index()
    got = final_totals(spark.table("pb_totals_0")).toPandas()
    ok = got.sort_values(["day", "ad_id"]).reset_index(drop=True).astype(
        {"click_count": "int64"}
    ).equals(want.sort_values(["day", "ad_id"]).reset_index(drop=True))
    run.check(ok, "running totals differ from the click counts")

    slot = clicks.ts.dt.floor("10min")
    wins = pd.concat(
        [
            pd.DataFrame({"window_start": slot - pd.Timedelta(minutes=10 * i), "ad_id": clicks.ad_id})
            for i in range(6)
        ]
    )
    want = wins.assign(window_start=wins.window_start.dt.strftime("%Y-%m-%d %H:%M:%S"))
    want = want.groupby(["window_start", "ad_id"]).size().rename("click_count").reset_index()
    got = spark.table("pb_trend_0").toPandas()
    key = ["window_start", "ad_id"]
    ok = got.sort_values(key).reset_index(drop=True).astype({"click_count": "int64"}).equals(
        want.sort_values(key).reset_index(drop=True)
    )
    run.check(ok, "sliding trend differs from the window counts")


def _stream_layers(run: Run, spans: list[dict], groups: dict) -> dict:
    streams = [s for s in spans if s["name"].startswith("stream.")]
    first = [s for s in streams if s["drain"] == 0]
    progress = [p for s in streams for p in s["progress"]]
    out: dict[str, float] = {}
    for q in ("blacklist", "totals", "trend"):
        out[f"stream.{q}.batches"] = float(
            sum(len(s["progress"]) for s in first if s["name"] == f"stream.{q}")
        )
        out[f"stream.{q}.batch_p50_ms"] = p50(
            p["durationMs"]["triggerExecution"]
            for s in streams
            if s["name"] == f"stream.{q}"
            for p in s["progress"]
        )
    for name, key in (
        ("stream.add_batch_ms_p50", "addBatch"),
        ("stream.planning_ms_p50", "queryPlanning"),
        ("stream.wal_commit_ms_p50", "walCommit"),
    ):
        out[name] = p50(p["durationMs"].get(key, 0) for p in progress)
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    out["state.commit_ms_p50"] = p50(op.get("commitTimeMs", 0) for op in ops)
    # state held after the first drain's last batch, stateful streams only
    last = [
        op
        for s in first
        if s["progress"] and s["name"] != "stream.blacklist"
        for op in s["progress"][-1].get("stateOperators", [])
    ]
    out["state.rows"] = float(sum(op["numRowsTotal"] for op in last))
    out["state.memory_bytes"] = float(sum(op["memoryUsedBytes"] for op in last))
    out["blacklist.process_batch_ms_p50"] = p50(
        ms for s in streams for ms in s.get("process_ms", ())
    )
    out["blacklist.dropped_clicks"] = float(run.detail.get("blacklist_dropped_clicks", 0))
    run_ids = {p["runId"] for p in progress}
    jobs = sum(groups.get(r, {}).get("jobs", 0) for r in run_ids)
    out["spark.jobs_per_batch"] = jobs / len(progress) if progress else 0.0
    return out


# ---- the run --------------------------------------------------------------


def run(args, work: str, host_weather, stop_spark) -> dict:
    from analysisofuserbehavior_spark.session import get_spark

    r = Run(args)
    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=r.cores, extra_conf=conf)
    session_s = time.perf_counter() - t
    from pyspark import SparkContext

    rss = RssSampler(SparkContext._gateway.proc.pid)
    rss.start()
    try:
        inputs = os.path.join(work, "inputs")
        t = time.perf_counter()
        info = _generate(r, inputs)
        gen_s = time.perf_counter() - t
        r.detail["inputs"] = {
            "rows": info,
            "bytes": gen.tree_bytes(inputs),
            "sha256": _digest(inputs),
        }
        r.detail["host"] = host_weather(spark)
        listener = Progress()
        spark.streams.addListener(listener)
        tr = Tracer(spark.sparkContext)
        cold_s = _gate(r, spark, tr, inputs)
        gate_spans = len(tr.spans)
        t = time.perf_counter()
        if args.workload == "task_batch":
            res = _task_batch(r, spark, tr, inputs)
        else:
            res = _ad_stream(r, spark, tr, inputs, listener)
        r.detail["timed_s"] = time.perf_counter() - t
        listener.wait_terminated()
        groups = [s["group"] for s in tr.spans] + list(listener.runs)
        fails = count_failures(spark.sparkContext, groups)
        r.detail["spark_failures"] = fails
        bad = fails["failed_jobs"] + fails["failed_tasks"] + fails["retried_stages"]
        r.attempted += fails["jobs"]
        r.failures += [f"spark task/job failures or retries: {fails}"] * bad
        spark.streams.removeListener(listener)
    finally:
        peak_mb = rss.stop()
        stop_spark(spark)
    # program time only: session start, then the cold pass through the
    # workload's entry points (the gate), which is the warm-up
    setup_s = session_s + cold_s
    r.name("cold_s", cold_s, "s", len(GATE[args.workload]))
    r.name("setup_s", setup_s, "s", 1)
    r.name("peak_rss_mb", peak_mb, "MB", 1)
    r.name("failed_share", len(r.failures) / r.attempted, "share", r.attempted)
    e2e = {"setup_s": setup_s, "p50_ms": res["p50_ms"], "rate_per_s": res["rate_per_s"]}
    timed = tr.spans[gate_spans:]
    r.detail.update(
        {
            "named": r.named,
            "e2e": e2e,
            "samples": res["samples"],
            "spans": [[s["name"], s["wall_s"]] for s in timed],
            "session_start_s": session_s,
            "gen_s": gen_s,
            "failures": r.failures,
        }
    )
    if args.trace:
        groups = parse_event_log(log_dir, scan_marker="events.parquet")
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers["session.start_s"] = session_s
        layers["process.peak_rss_mb"] = peak_mb
        if args.workload == "task_batch":
            layers.update(_task_layers(r, timed, groups))
        else:
            layers.update(_stream_layers(r, timed, groups))
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
    return {
        "detail": r.detail,
        "metrics": metrics,
        "attempted": r.attempted,
        "failed": len(r.failures),
    }

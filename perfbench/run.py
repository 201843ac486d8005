#!/usr/bin/env python3
"""The repo benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload feed_live --seed 1 --seconds 10 --trace 0

Builds the engine from src/main/scala plus perfbench/harness with scalac
(into $CARGO_TARGET_DIR, default .bench_build), runs one workload in a fresh
JVM against a fresh run directory, checks the outputs and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones, and the
spans with self times go to <build>/out/. See perfbench/README.md.
"""
import argparse
import bisect
import calendar
import collections
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True
import gen  # noqa: E402

SF_DIR = BENCH / "data" / "sf0.01"
EXPECTED = BENCH / "expected.json"
SF_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings")
QUERY_KEYS = ("q_agg_rollup", "q_join_salted", "q_win_frame", "q_session_windows",
              "q_dedup_semantic", "q_sim_ivf_trained", "q_sim_hybrid", "q_text_bm25",
              "q_stats_ks", "q_stats_mwu", "q_pipeline_corpus", "s_semantic_gate",
              "q_sbs1_flights", "q_sbs1_grid")
# the derived artifacts the keys above read (each built as its own span)
PHASES = ("shingle_raw", "shingle_capped", "shingle_sigs", "token_counts",
          "kmeans_ivf_train")
MODULES = ("RelationalQueries", "WindowQueries", "GroupingQueries",
           "EventTimeQueries", "Sbs1Queries", "DedupQueries", "SimilarityQueries",
           "TextQueries", "StatsQueries", "PipelineQueries")

LIVE_RATE = 5000          # lines/s, feed_live's open-loop schedule
LIVE_WARM_S = 2           # untimed live traffic before the window
BURSTS = 3                # backlog bursts after the live window
BURST_LINES = 80_000      # lines per burst
SQUITTER_LINES = 30_000   # query_mix's q_sbs1_* recording
# lines/s of a recording's clock: 30,000 lines span 50 minutes, so the
# aircraft's silences (3 to 18 minutes) split their tracks into flights
RECORDING_RATE = 10
ISO_LINES = 50_000        # isolation calls' input (traced runs)
SETUPS = 3                # feed set-ups per run (median reported)
MIN_PASSES = 3            # query_mix timed passes per run, at least
LAG_LIMIT_S = 3.0         # feed_live fails when the window's last line commits later

E2E = (("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms"),
       ("throughput_per_s", "1/s"), ("cpu_ms_per_op", "ms"))
PER_LAYER = (
    [("sources.latest_offset_ms", "ms"), ("sources.get_batch_ms", "ms"),
     ("sources.lag_lines_max", "count"), ("sources.frame_lines_per_s", "1/s"),
     ("sources.spill_bytes_per_line", "B"), ("sources.parse_rows_per_s", "1/s"),
     ("sources.invalid_lines", "count"), ("sources.null_fields", "count"),
     ("streaming.add_batch_ms_p50", "ms"), ("streaming.add_batch_ms_max", "ms"),
     ("streaming.query_planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
     ("streaming.commit_offsets_ms", "ms"), ("streaming.trigger_ms", "ms"),
     ("streaming.batches", "count"), ("streaming.rows_per_batch", "count"),
     ("streaming.sink_rows_per_s", "1/s"), ("streaming.backlog_rows_per_s", "1/s"),
     ("streaming.sink_task_ms_p50", "ms"),
     ("streaming.sink_task_ms_max", "ms"),
     ("streaming.shuffle_write_bytes_per_row", "B"), ("streaming.prune_ms", "ms")]
    + [(f"operators.{m}.{k}", u) for m in MODULES
       for k, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                    ("jobs", "count"), ("tasks", "count"),
                    ("shuffle_bytes", "B"), ("spill_bytes", "B"))]
    + [("api.catalog_register_s", "s"), ("api.artifact_build_s", "s"),
       ("api.artifact_bytes", "B"),
       ("engine.session_start_s", "s"), ("engine.warm_pass_s", "s"),
       ("engine.codegen_compile_ms", "ms"), ("engine.gc_s", "s"),
       ("engine.rss_peak_mb", "MB"), ("engine.rows_per_s_1core", "1/s")])

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
HEAP = "-Xmx4g"


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """$SPARK_HOME/jars, or else the jars next to the first Spark
    distribution's bin/spark-submit on PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        Path(p, "spark-submit").resolve().parent.parent
        for p in os.environ.get("PATH", "").split(os.pathsep)
        if p and Path(p, "spark-submit").is_file()]
    for home in homes:
        if (home / "jars").is_dir():
            return home / "jars"
    raise BenchError("Spark jars not found (set SPARK_HOME)")


def build():
    """Compiles the program and the harness with scalac, once per source
    digest. Returns the class directory."""
    src = ROOT / "src" / "main" / "scala"
    files = sorted(src.rglob("*.scala")) if src.is_dir() else []
    if not files:
        raise BenchError(f"no program sources under {src}")
    files += sorted((BENCH / "harness").glob("*.scala"))
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    out = build_dir() / "classes"
    stamp = out / ".digest"
    if stamp.is_file() and stamp.read_text() == digest:
        return out
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log(f"compiling {len(files)} Scala files")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
         "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(tmp)]
        + [str(f) for f in files],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(digest)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


def run_engine(classes, run_dir, args, env_extra, deadline):
    """Runs the harness JVM (and, through it, the generator) in its own
    process group; kills the group if it outlives `deadline`."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + JVM_OPENS
           + ["-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.Harness",
              f"run_dir={run_dir}", f"gen_python={sys.executable}",
              f"gen_script={BENCH / 'gen.py'}"]
           + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, **env_extra)
    with open(run_dir / "engine.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             cwd=run_dir, env=env, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"engine timed out; see {run_dir / 'engine.log'}")
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    rep_path = run_dir / "engine.json"
    if not rep_path.is_file():
        raise BenchError(f"engine wrote no report; see {run_dir / 'engine.log'}")
    rep = json.loads(rep_path.read_text())
    if not rep.get("ok"):
        raise BenchError(f"engine failed: {rep.get('error')}; see {run_dir / 'engine.log'}")
    return rep


# ---------------------------------------------------------------- helpers

def pct(xs, q):
    """q-th percentile (0..100), linear between closest ranks."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def sbs1_ms(date_time):
    """'yyyy/MM/dd HH:mm:ss.SSS' (UTC) to epoch milliseconds."""
    d, t = date_time.split(" ")
    y, mo, dd = d.split("/")
    hh, mi, rest = t.split(":")
    ss, ms = rest.split(".")
    return (calendar.timegm((int(y), int(mo), int(dd), int(hh), int(mi), int(ss)))
            * 1000.0 + int(ms))


def read_rows(run_dir):
    """Committed rows as (seq, 'yyyy/MM/dd HH:mm:ss.SSS' due time)."""
    out = []
    with open(run_dir / "rows.tsv") as f:
        for line in f:
            seq, dt = line.rstrip("\n").split("\t")
            out.append((int(seq), dt))
    return out


def check_feed(rows, exp, engine_nulls):
    """Exactly-once check by sequence number. Returns (failed, problems):
    failed counts valid lines not committed exactly once plus committed
    lines that are not valid; problems lists what differed."""
    seen = collections.Counter(seq for seq, _ in rows)
    valid = set(exp["valid"])
    not_once = sum(1 for s in valid if seen.get(s, 0) != 1)
    extra = sum(c for s, c in seen.items() if s not in valid)
    problems = []
    if not_once:
        problems.append(f"{not_once} valid lines not committed exactly once")
    if extra:
        problems.append(f"{extra} rows committed from invalid or unknown lines")
    if engine_nulls is not None and engine_nulls != exp["nulls"]:
        diff = {k: (engine_nulls.get(k), v) for k, v in exp["nulls"].items()
                if engine_nulls.get(k) != v}
        problems.append(f"NULL counts differ (engine, expected): {diff}")
    return not_once + extra, problems


def null_fields(engine_nulls, exp):
    """Fields the parser coerced to NULL: NULLs seen minus empty fields sent."""
    empties = sum(exp["nulls"].values()) - exp["coerced"]
    return sum(engine_nulls.values()) - empties


def batch_index(batches):
    data = sorted((b for b in batches if b["end"] > b["start"]), key=lambda b: b["end"])
    return data, [b["end"] for b in data]


def commit_ms(data, ends, seq):
    i = bisect.bisect_right(ends, seq)
    return data[i]["recv_ms"] if i < len(data) else None


def live_lag_s(live, rate):
    """Seconds from the due time of the live window's last line to the
    commit of the batch holding it. A pipeline that keeps up stays near one
    trigger interval plus one batch; one that falls behind the schedule
    carries its backlog past the end of the window."""
    return (live["done_ms"] - (live["t0_ms"] + (live["lines"] - 1) * 1000.0 / rate)) / 1000.0


def check_live_rate(live, rate):
    lag = live_lag_s(live, rate)
    if lag > LAG_LIMIT_S:
        return [f"the window's last line committed {lag:.2f} s after its due time: "
                f"{rate} lines/s is not sustained"]
    return []


def duckdb_rows(con, sql):
    """Rows of a DuckDB relation normalized like tools/check_oracle.py
    (columns sorted by name, values stringified), as a sorted list."""
    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.10g}"
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, list):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("|".join(cell(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def result_digest(cols, rows):
    h = hashlib.sha256(("|".join(cols) + "\n").encode())
    for r in rows:
        h.update((r + "\n").encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def compare_results(keys, warm, got, want):
    """Keys whose warm-pass execution failed or whose result digest differs
    from the expected one, and what went wrong."""
    bad, problems = set(), []
    for k in keys:
        if warm[k]["error"]:
            bad.add(k)
            problems.append(f"{k} failed: {warm[k]['error']}")
        elif got.get(k) != want.get(k):
            bad.add(k)
            problems.append(f"{k}: result {got.get(k)} != expected {want.get(k)}")
    return bad, problems


def duck_con():
    import duckdb
    con = duckdb.connect()
    for t in SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR / (t + '.parquet')}')")
    return con


# ---------------------------------------------------------------- workloads

def feed(a, classes, run_dir, deadline):
    rate = 500 if a.smoke else LIVE_RATE
    args = {"workload": "feed_live", "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "setups": 1 if a.smoke else SETUPS, "rate": rate,
            "warm_seconds": 1 if a.smoke else LIVE_WARM_S,
            "bursts": 1 if a.smoke else BURSTS,
            "burst_lines": 2000 if a.smoke else BURST_LINES}
    if a.trace:
        args["iso_file"] = write_iso(a, run_dir)
    rep = run_engine(classes, run_dir, args, {}, deadline)
    rows = read_rows(run_dir)
    lines = rep["lines_sent"]
    exp = gen.expectations(a.seed, lines, rate)
    failed, problems = check_feed(rows, exp, rep["nulls"])
    data, ends = batch_index(rep["batches"])
    valid = set(exp["valid"])
    live = rep["live"]
    t0, first = live["t0_ms"], live["first"]
    end = first + live["lines"]
    measured = [(seq, dt) for seq, dt in rows if first <= seq < end]
    lat = []
    for seq, dt in measured:
        c = commit_ms(data, ends, seq)
        if seq in valid and c is not None:
            lat.append(c - sbs1_ms(dt))
    if not a.smoke:
        problems += check_live_rate(live, rate)
    rates = [burst_rate(b, valid) for b in rep["bursts"]]
    rep["burst_rows_per_s"] = rates
    # the micro-batch view is the live window's
    data = [b for b in data if b["end"] > first and b["start"] < end]
    lags = [min(end, first + int((b["recv_ms"] - t0) * rate / 1000.0) + 1) - b["end"]
            for b in data]
    rep["batch_ms"] = [(b["rows"], b["durations"].get("triggerExecution"),
                        b["durations"].get("addBatch")) for b in data]
    setup_s = rep["session_start_s"] + median(rep["setup_stream_s"])
    e2e = {"setup_s": setup_s,
           "latency_p50_ms": pct(lat, 50), "latency_p90_ms": pct(lat, 90),
           "throughput_per_s": median(rates),
           "cpu_ms_per_op": rep["cpu_s"] * 1000.0 / max(1, len(measured))}
    layer = {}
    if a.trace:
        spans = read_spans(run_dir)
        batch_spans = [s for s in spans if s["name"] == "streaming.batch"
                       and s["attrs"]["end"] > first and s["attrs"]["start"] < end]
        dur = lambda k: [b["durations"].get(k, 0) for b in data]  # noqa: E731
        sink_tasks = [t for s in batch_spans for t in s["sink_task_ms"]]
        shuffle = sum(s["counts"].get("shuffle_write_bytes", 0) for s in batch_spans)
        layer.update({
            "sources.latest_offset_ms": median(dur("latestOffset")),
            "sources.get_batch_ms": median(dur("getBatch")),
            "sources.lag_lines_max": max(lags) if lags else 0,
            "sources.invalid_lines": lines - len(rows),
            "sources.null_fields": null_fields(rep["nulls"], exp),
            "streaming.add_batch_ms_p50": median(dur("addBatch")),
            "streaming.add_batch_ms_max": max(dur("addBatch") or [0]),
            "streaming.query_planning_ms": median(dur("queryPlanning")),
            "streaming.wal_commit_ms": median(dur("walCommit")),
            "streaming.commit_offsets_ms": median(dur("commitOffsets")),
            "streaming.trigger_ms": median(dur("triggerExecution")),
            "streaming.batches": len(data),
            "streaming.rows_per_batch": sum(b["rows"] for b in data) / max(1, len(data)),
            "streaming.backlog_rows_per_s": median(rates),
            "streaming.sink_task_ms_p50": median(sink_tasks),
            "streaming.sink_task_ms_max": max(sink_tasks or [0]),
            "streaming.shuffle_write_bytes_per_row":
                shuffle / max(1, sum(b["rows"] for b in data)),
            "engine.gc_s": rep["gc_s"],
        })
        if layer["sources.invalid_lines"] != len(exp["invalid"]):
            problems.append(f"{layer['sources.invalid_lines']} lines dropped, "
                            f"{len(exp['invalid'])} invalid lines sent")
        if layer["sources.null_fields"] != exp["coerced"]:
            problems.append(f"{layer['sources.null_fields']} fields coerced to NULL, "
                            f"{exp['coerced']} non-numeric fields sent")
        if not a.smoke:
            layer["engine.rows_per_s_1core"] = one_core_rate(a, classes, deadline)
        problems += add_common_layer(layer, rep, a)
    return {"attempted": lines, "failed": failed, "problems": problems,
            "e2e": e2e, "layer": layer, "rep": rep}


def burst_rate(b, valid):
    """Valid rows of a burst per second, first byte sent to last commit."""
    n = sum(1 for s in range(b["first"], b["first"] + b["lines"]) if s in valid)
    return n / ((b["done_ms"] - b["t_first_ms"]) / 1000.0)


def one_core_rate(a, classes, deadline):
    """One backlog burst, and no live window, at local[1] in a JVM of its
    own: the single-threaded baseline."""
    run_dir = new_run_dir(a, "1core")
    rep = run_engine(classes, run_dir, {
        "workload": "feed_live", "seed": a.seed, "seconds": 0, "trace": 0,
        "setups": 1, "rate": LIVE_RATE, "bursts": 1,
        "burst_lines": BURST_LINES // 2, "master": "local[1]"}, {}, deadline)
    exp = gen.expectations(a.seed, rep["lines_sent"], LIVE_RATE)
    shutil.rmtree(run_dir, ignore_errors=True)
    return burst_rate(rep["bursts"][0], set(exp["valid"]))


def query_mix(a, classes, run_dir, deadline):
    keys = ("q_agg_rollup", "q_sbs1_grid") if a.smoke else QUERY_KEYS
    fixture = run_dir / "squitters.txt"
    valid_fixture = run_dir / "squitters_valid.txt"
    n_sq = 2000 if a.smoke else SQUITTER_LINES
    gen.write_file(a.seed, n_sq, RECORDING_RATE, str(fixture), str(valid_fixture))
    args = {"workload": "query_mix", "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "sf_dir": SF_DIR, "keys": ",".join(keys),
            "phases": "" if a.smoke else ",".join(PHASES),
            "min_passes": 1 if a.smoke else MIN_PASSES}
    if a.trace:
        args["iso_file"] = write_iso(a, run_dir)
    rep = run_engine(classes, run_dir, args,
                     {"SPARK_GRAFT_SBS1_FIXTURE": str(fixture)}, deadline)
    oracle = json.loads((run_dir / "oracle_sql.json").read_text())
    stored = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
    expected = stored["keys"] if stored.get("sf_dir") == SF_DIR.name else {}
    con = duck_con()
    got, want = {}, {}
    for k in keys:
        if rep["warm"][k]["error"]:
            continue
        got[k] = result_digest(*duckdb_rows(
            con, f"SELECT * FROM read_parquet('{run_dir / 'results' / k}/*.parquet')"))
        if k in oracle:
            sql = oracle[k].replace(str(fixture), str(valid_fixture))
            want[k] = result_digest(*duckdb_rows(con, sql))
        else:
            want[k] = expected.get(k)
    bad_keys, problems = compare_results(keys, rep["warm"], got, want)
    execs = rep["executions"]
    failed = sum(1 for e in execs if not e["ok"] or e["key"] in bad_keys)
    lat = [(e["build_ms"] + e["plan_ms"] + e["exec_ms"]) for e in execs]
    per_key, per_key_cpu = collections.defaultdict(list), collections.defaultdict(list)
    for e, ms in zip(execs, lat):
        per_key[e["key"]].append(ms)
        per_key_cpu[e["key"]].append(e["cpu_ms"])
    # each key counts with its best timed pass (min-of-N): a host hiccup or
    # the JIT still compiling in one pass then moves no key's number
    rep["key_ms"] = {k: min(v) for k, v in per_key.items()}
    rep["exec_ms"] = [(e["key"], e["pass"], round(ms, 1), round(e["cpu_ms"], 1))
                      for e, ms in zip(execs, lat)]
    key_ms = list(rep["key_ms"].values())
    e2e = {"setup_s": rep["setup_s"],
           "latency_p50_ms": pct(key_ms, 50), "latency_p90_ms": pct(key_ms, 90),
           "throughput_per_s": len(keys) / (sum(key_ms) / 1000.0),
           "cpu_ms_per_op": sum(min(v) for v in per_key_cpu.values()) / len(keys)}
    layer = {}
    if a.trace:
        spans = read_spans(run_dir)
        n_pass = len(rep["passes_s"])
        by_id = {s["id"]: s for s in spans}

        def in_pass(s):
            while s["parent"]:
                s = by_id[s["parent"]]
                if s["name"] == "measure.pass":
                    return True
            return False

        for m in MODULES:
            mine = [s for s in spans if s["name"].startswith(f"operators.{m}.")
                    and in_pass(s)]
            for part in ("build", "plan", "exec"):
                layer[f"operators.{m}.{part}_s"] = sum(
                    s["end_ms"] - s["start_ms"] for s in mine
                    if s["name"] == f"operators.{m}.{part}") / 1000.0 / n_pass
            for name, ck in (("jobs", "jobs"), ("tasks", "tasks"),
                             ("shuffle_bytes", "shuffle_write_bytes"),
                             ("spill_bytes", "spill_bytes")):
                layer[f"operators.{m}.{name}"] = sum(
                    s["counts"].get(ck, 0) for s in mine) / n_pass
        layer.update({
            "api.catalog_register_s": rep["catalog_register_s"],
            "api.artifact_build_s": sum(p["s"] for p in rep["phases"]),
            "api.artifact_bytes": rep["artifact_bytes"],
            "engine.warm_pass_s": rep["warm_pass_s"],
            "engine.gc_s": rep["gc_s"],
        })
        problems += add_common_layer(layer, rep, a)
    return {"attempted": len(execs), "failed": failed, "problems": problems,
            "e2e": e2e, "layer": layer, "rep": rep, "digests": got}


def write_iso(a, run_dir):
    """The isolation calls' input: a recording from the same generator."""
    path = run_dir / "iso.txt"
    gen.write_file(a.seed, 2000 if a.smoke else ISO_LINES, RECORDING_RATE,
                   str(path), str(run_dir / "iso_valid.txt"))
    return path


def add_common_layer(layer, rep, a):
    """Adds the per-layer metrics every traced run measures (the isolation
    calls and the engine's fixed costs) and returns what differs between the
    isolated parse's counts and the generator's."""
    iso = rep["isolation"]
    exp = gen.expectations(a.seed, iso["lines"], RECORDING_RATE)
    layer.update({
        "sources.frame_lines_per_s": iso["frame_lines_per_s"],
        "sources.spill_bytes_per_line": iso["spill_bytes_per_line"],
        "sources.parse_rows_per_s": iso["parse_rows_per_s"],
        "streaming.sink_rows_per_s": iso["sink_rows_per_s"],
        "streaming.prune_ms": iso["prune_ms"],
        "engine.session_start_s": rep["session_start_s"],
        "engine.rss_peak_mb": rep["rss_peak_mb"],
        "engine.codegen_compile_ms": rep["codegen"]["count"] * rep["codegen"]["mean_ms"],
    })
    layer.setdefault("sources.invalid_lines", iso["lines"] - iso["parsed_rows"])
    layer.setdefault("sources.null_fields", null_fields(iso["nulls"], exp))
    problems = []
    if iso["lines"] - iso["parsed_rows"] != len(exp["invalid"]):
        problems.append(f"isolation parse dropped {iso['lines'] - iso['parsed_rows']} "
                        f"lines, {len(exp['invalid'])} invalid")
    if iso["nulls"] != exp["nulls"]:
        problems.append("isolation parse NULL counts differ")
    return problems


def read_spans(run_dir):
    with open(run_dir / "spans.jsonl") as f:
        return [json.loads(line) for line in f]


def self_times(spans):
    """Per span name: count, total and self milliseconds (self = duration
    minus the time its children cover)."""
    child = collections.defaultdict(float)
    for s in spans:
        if s["parent"]:
            child[s["parent"]] += s["end_ms"] - s["start_ms"]
    out = {}
    for s in spans:
        d = s["end_ms"] - s["start_ms"]
        o = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0,
                                       "counts": collections.Counter()})
        o["count"] += 1
        o["total_ms"] += d
        o["self_ms"] += max(0.0, d - child[s["id"]])
        o["counts"].update(s.get("counts", {}))
    return out


# ---------------------------------------------------------------- main

def new_run_dir(a, tag=""):
    d = build_dir() / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}{tag}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def environment(classes):
    """The 1-min load, core count, heap flag and the code's identity: the
    git commit, or outside a git checkout the digest of the compiled
    sources."""
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    return {"load1": os.getloadavg()[0], "nproc": os.cpu_count(), "heap": HEAP,
            "commit": commit or "sources-sha256:" + (classes / ".digest").read_text()[:16]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("feed_live", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: checks the plumbing, not the speed")
    ap.add_argument("--record-expected", action="store_true",
                    help="query_mix: store this run's results of the keys "
                         "without a DuckDB oracle as the expected values")
    a = ap.parse_args(argv)
    t_start = time.time()
    deadline = t_start + (900 if not (build_dir() / "classes").is_dir() else 170)
    try:
        classes = build()
        deadline = max(deadline, time.time() + 150)
        env = environment(classes)
        log(f"{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} env={env}")
        run_dir = new_run_dir(a)
        res = (query_mix if a.workload == "query_mix" else feed)(a, classes, run_dir, deadline)
    except BenchError as e:
        log(str(e))
        return 1
    if a.record_expected:
        oracle = json.loads((run_dir / "oracle_sql.json").read_text())
        EXPECTED.write_text(json.dumps({"sf_dir": SF_DIR.name, "keys": {
            k: v for k, v in sorted(res["digests"].items()) if k not in oracle}},
            indent=1, sort_keys=True) + "\n")
        log(f"wrote {EXPECTED}")
    problems = res["problems"]
    for p in problems:
        log("CHECK FAILED: " + p)
    if a.trace:
        metrics = {n: {"value": float(res["layer"].get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u} for n, u in E2E}
    out_dir = build_dir() / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    detail = {k: v for k, v in res["rep"].items() if k in (
        "session_start_s", "setup_stream_s", "setup_s", "live", "bursts",
        "burst_rows_per_s", "batch_ms", "passes_s", "key_ms", "exec_ms", "warm", "phases",
        "warm_pass_s", "catalog_register_s", "cpu_s", "process_cpu_s", "gc_s",
        "codegen", "isolation")}
    record = {"env": env, "engine_env": res["rep"]["env"], "problems": problems,
              "e2e": res["e2e"], "layer": res["layer"], "detail": detail,
              "wall_s": time.time() - t_start}
    if a.trace:
        spans = read_spans(run_dir)
        record["self_times"] = self_times(spans)
        base = out_dir / f"{a.workload}-seed{a.seed}-trace0.json"
        if base.is_file():
            untraced = json.loads(base.read_text())["e2e"]
            record["tracing_overhead"] = {k: res["e2e"][k] - untraced[k] for k in untraced}
        shutil.copy(run_dir / "spans.jsonl", out_dir / f"{stem}.spans.jsonl")
    (out_dir / f"{stem}.json").write_text(json.dumps(record, indent=1, default=list))
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"done in {time.time() - t_start:.1f} s; record in {out_dir / (stem + '.json')}")
    print(json.dumps({"correct": not problems and res["failed"] == 0,
                      "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

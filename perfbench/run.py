#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--cores <n>]

Builds the library and the harness from source on first use (sbt,
offline), generates the workload's inputs from the seed (cached per seed
and size under perfbench/work/cache, outside every timing), runs the
workload in one JVM, checks every output, and prints one line per metric
followed by a JSON summary as the last line. Exits non-zero when the
build, the run or an output check fails. See perfbench/README.md for the
workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CACHE = os.path.join(WORK, "cache")
sys.path.insert(0, HERE)

import gen     # noqa: E402
import oracle  # noqa: E402

# ---- workload definitions -------------------------------------------------

# The analyst mix: one fast, oracle-checked entry per ops module. A round
# runs each once, in a seeded order.
ANALYST_MIX = [
    "agg_salted", "agg_mode", "win_rank_change", "fn_edit_distance",
    "filter_time_window", "typed_load_dedup", "join_interval_overlap",
    "fn_array_ops", "dq_report", "fn_regex_extract", "sql_exists_not_exists",
    "sort_limit_topk", "win_moving_avg"]
# The curation chain, in order; one pass runs each once.
CURATION_CHAIN = ["ext_minhash_dedup", "ext_sq8_adc", "ext_bm25", "ext_tfidf"]
CURATION_SCALE = 0.5        # documents and embeddings, × sf0.1 row counts
TRANSIT = dict(trips=1000, days=14, start="2024-01-01")
INGEST = dict(period_ms=100, files_per_unit=60, events_per_file=1000,
              users=2_000_000)

END_TO_END = [("setup_s", "s"), ("job_s", "s"), ("rows_per_s", "rows/s"),
              ("latency_p50_s", "s"), ("latency_p90_s", "s"),
              ("requests_per_s", "req/s"), ("heap_retained_mb", "MB")]
# printed beside the metrics, not part of the JSON result (see README)
MEMORY_INFO = [("peak_rss_mb", "MB")]
WORKLOADS = ["transit_daily", "analyst_queries", "curation_batch",
             "event_ingest"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


# ---- build ------------------------------------------------------------------

def _fingerprint():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles library + harness once per source state; returns the
    runtime classpath and whether this call built it."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: the library's sources (build.sbt, "
                         "src/main) are not beside perfbench/")
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = _fingerprint()
        cp_file = os.path.join(bdir, "classpath")
        fp_file = os.path.join(bdir, "fingerprint")
        if os.path.exists(cp_file) and os.path.exists(fp_file) \
                and open(fp_file).read() == fp:
            return open(cp_file).read().strip(), False
        print("[perfbench] building the library and the harness (sbt, "
              "offline)", file=sys.stderr, flush=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", " ".join(
            ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
             "-Xmx2g"] + ([f"-Dsbt.repository.config={repos}"]
                          if os.path.exists(repos) else [])))
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=840)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines or ":" not in lines[-1]:
            sys.stderr.write(p.stdout[-4000:])
            raise SystemExit(f"perfbench: build failed ({p.returncode})")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(fp_file, "w") as f:
            f.write(_fingerprint())
        return lines[-1].strip(), True


def java_cmd(classpath, main, run_dir):
    mem_kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
    heap = min(max(mem_kb // 2097152, 2), 8)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + ADD_OPENS +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xmx{heap}g", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={tmp}", "-cp", classpath, main])


def run_java(cmd, log_file, timeout):
    with open(log_file, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=os.path.dirname(log_file))
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_file) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: {os.path.basename(log_file)} run "
                         f"failed ({rc})")


# ---- inputs -----------------------------------------------------------------

def cached(key, make):
    """Directory `key` under the cache, made once by `make(dir)`."""
    d = os.path.join(CACHE, key)
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    make(d)
    open(os.path.join(d, "DONE"), "w").close()
    return d


def prepare(workload, seed, seconds):
    """Generates (or reuses) the inputs; returns (jvm args, context)."""
    if workload == "analyst_queries":
        d = cached(f"tables_s{seed}_x1", lambda d: gen.tables(d, seed, 1.0))
        return ["--data", d, "--entries", ",".join(ANALYST_MIX)], {"data": d}
    if workload == "curation_batch":
        d = cached(f"corpus_s{seed}_x{CURATION_SCALE}", lambda d: gen.tables(
            d, seed, CURATION_SCALE, other_scale=0.01))
        return ["--data", d, "--entries", ",".join(CURATION_CHAIN)], \
            {"data": d}
    if workload == "transit_daily":
        t = TRANSIT

        def make(d):
            with open(os.path.join(d, "counts.json"), "w") as f:
                json.dump(gen.gtfs_feed(d, seed, t["trips"]), f)
        d = cached(f"gtfs_s{seed}_t{t['trips']}d{t['days']}", make)
        as_of = time.strftime("%Y-%m-%d", time.gmtime(time.mktime(
            time.strptime(t["start"], "%Y-%m-%d")) + t["days"] * 86400))
        return ["--inputs", ",".join([
            d, as_of, str(t["trips"]), str(t["days"]), t["start"],
            str(seed)])], {"gtfs": d}
    if workload == "event_ingest":
        i = INGEST
        # schedules for `seconds`, and two for a traced run
        unit_s = i["files_per_unit"] * i["period_ms"] / 1000
        files = i["files_per_unit"] * max(2, math.ceil(seconds / unit_s))
        key = (f"ingest_s{seed}_f{files}e{i['events_per_file']}"
               f"u{i['users']}")
        d = cached(key, lambda d: gen.event_files(
            d, seed, files, i["events_per_file"], i["users"]))
        return ["--files", d, "--period-ms", str(i["period_ms"]),
                "--files-per-unit", str(i["files_per_unit"]),
                "--events-per-file", str(i["events_per_file"])], {"dir": d}
    raise SystemExit(f"perfbench: unknown workload {workload!r}; "
                     f"choose one of {', '.join(WORKLOADS)}")


def transit_counts(gtfs, gen_dir):
    """Feed rows by file, the generated delay events and weather rows,
    and the events whose trip and stop exist in the feed (the fact rows
    the job must produce)."""
    counts = json.load(open(os.path.join(gtfs, "counts.json")))
    con = oracle.db()
    ev = f"'{gen_dir}/delay_events.parquet/*.parquet'"
    n, fact = con.sql(f"""
        SELECT count(*), count(*) FILTER (WHERE
          trip_id IN (SELECT trip_id FROM read_csv_auto('{gtfs}/trips.txt'))
          AND stop_id IN (SELECT stop_id FROM
                          read_csv_auto('{gtfs}/stops.txt')))
        FROM {ev}""").fetchone()
    weather = con.sql(f"SELECT count(*) FROM "
                      f"'{gen_dir}/weather.parquet/*.parquet'").fetchone()[0]
    counts.update(delay_events=n, expect_fact=fact, weather=weather)
    return counts


# ---- checks -----------------------------------------------------------------

def check_entries(res, outputs, ctx):
    """Oracle-compares the first output of every entry; returns the set
    of entries whose output is wrong, with reasons."""
    con = oracle.connect(ctx["data"])
    bad = {}
    exp_dir = os.path.join(ctx["data"], "expected")
    for name, sql in res["oracles"].items():
        if name not in outputs:
            continue
        want = oracle.expected(con, sql, os.path.join(exp_dir, f"{name}.json"))
        why = oracle.compare(outputs[name], want)
        if why:
            bad[name] = why
    return bad


def check_ingest(res):
    """The final snapshot against the batch last-event-per-user."""
    info = res["info"]
    state = info["state_dir"]
    last = max((x for x in os.listdir(state) if x[1:].isdigit()),
               key=lambda x: int(x[1:]))
    con = oracle.db()
    diff = con.sql(f"""
        WITH b AS (
          SELECT user_id, n, ts, event_id, value FROM (
            SELECT *, count(*) OVER w AS n,
                   row_number() OVER (w ORDER BY ts DESC, event_id DESC) AS rn
            FROM '{info["source_dir"]}/*.parquet'
            WINDOW w AS (PARTITION BY user_id))
          WHERE rn = 1)
        SELECT count(*) FROM b
        FULL OUTER JOIN '{state}/{last}/*.parquet' s USING (user_id)
        WHERE b.n IS DISTINCT FROM s.n_events
           OR b.ts IS DISTINCT FROM s.latest.ts
           OR b.event_id IS DISTINCT FROM s.latest.event_id
           OR b.value IS DISTINCT FROM s.latest.value""").fetchone()[0]
    return [] if diff == 0 else [
        f"upsert snapshot differs from batch last-event-per-user "
        f"on {diff} users"]


# ---- metrics ----------------------------------------------------------------

def cpu_times():
    """The machine's cumulative CPU times (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(a, b):
    """Share of CPU time the hypervisor took from this machine between
    two `cpu_times()`: when it varies, so do the timings."""
    if not a or not b or len(a) < 8:
        return "n/a"
    d = [y - x for x, y in zip(a, b)]
    return f"{d[7] / max(sum(d), 1):.3f}"


def p90(xs):
    s = sorted(xs)
    return s[max(math.ceil(0.9 * len(s)) - 1, 0)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}; "
                         f"choose one of {', '.join(WORKLOADS)}")

    start = time.time()
    classpath, built = build()
    # a run ends within 180 s; the first one in a checkout also builds
    deadline = start + (890 if built else 175)
    run_dir = os.path.join(WORK, "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args, ctx = prepare(a.workload, a.seed, a.seconds)
        out, outs = (os.path.join(run_dir, "result.json"),
                     os.path.join(run_dir, "outputs.jsonl"))
        cmd = java_cmd(classpath, "perfbench.Main", run_dir) + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(a.cores), "--work", run_dir, "--out", out,
            "--outputs", outs] + args
        cmd += ["--launch-ms", repr(time.time() * 1000)]
        cpu0 = cpu_times()
        run_java(cmd, os.path.join(run_dir, "jvm.log"),
                 max(deadline - time.time() - 5, 1))
        res = json.load(open(out))
        res["info"]["cpu_steal_share"] = steal_share(cpu0, cpu_times())
        outputs = {}
        for line in open(outs):
            if line.strip():
                o = json.loads(line)
                outputs[o["name"]] = o
        summary = summarize(a, res, outputs, ctx)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


def summarize(a, res, outputs, ctx):
    reqs = res["requests"]
    failures = list(res["failures"])
    attempted = res["attempted"]
    failed_ops = len(failures)
    if a.workload in ("analyst_queries", "curation_batch"):
        bad = check_entries(res, outputs, ctx)
        failures += [f"{n}: {w}" for n, w in sorted(bad.items())]
        failed_ops += sum(1 for n, _ in reqs if n in bad)
        con = oracle.db()
        sizes = {t: con.sql(
            f"SELECT count(*) FROM '{ctx['data']}/{t}.parquet'"
            + ("/*.parquet" if os.path.isdir(f"{ctx['data']}/{t}.parquet")
               else "")).fetchone()[0]
                 for t in oracle.TABLES}
        rows = sum(sum(sizes[t] for t in oracle.table_refs(
            res["oracles"].get(n, ""))) for n, _ in reqs)
    elif a.workload == "transit_daily":
        c = transit_counts(ctx["gtfs"], res["info"]["transit_dir"])
        fact = int(res["info"].get("fact_rows", -1))
        if fact != c["expect_fact"]:
            failures.append(f"fact rows {fact} != delay events in the feed "
                            f"{c['expect_fact']}")
            failed_ops += len(res["units"])
        rows = len(res["units"]) * (c["delay_events"] + c["weather"] + sum(
            c[k] for k in ("routes", "stops", "trips", "stop_times",
                           "calendar")))
        digest = res["info"].get("job_digest", "")
        known = os.path.join(ctx["gtfs"], "digest")
        if digest and not os.path.exists(known):
            with open(known, "w") as f:
                f.write(digest)
        if digest and open(known).read() != digest:
            failures.append("job outputs differ from an earlier run with "
                            "this seed")
            failed_ops += len(res["units"])
    else:
        rows = res["rows"]
        bad = check_ingest(res)
        failures += bad
        failed_ops += len(bad)
    failed_ops = min(failed_ops, attempted)

    timed = res["timed_s"]
    lat = [s for _, s in reqs]
    e2e = {
        "setup_s": res["setup_s"],
        "job_s": statistics.median(res["units"]),
        "rows_per_s": rows / timed,
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": p90(lat),
        "requests_per_s": len(lat) / timed,
        "heap_retained_mb": res["heap_retained_mb"],
    }
    units = dict(END_TO_END)
    for k, v in e2e.items():
        print(f"{a.workload} {k} = {v:.6g} {units[k]}")
    for k, u in MEMORY_INFO:
        print(f"{a.workload} {k} = {res[k]:.6g} {u}")
    print(f"{a.workload} error_rate = {failed_ops / max(attempted, 1):.6g} "
          f"fraction ({failed_ops}/{attempted})")
    print(f"{a.workload} samples: {len(lat)} requests, {len(res['units'])} "
          f"units, {timed:.3f} s timed")
    for k, v in res["info"].items():
        if k not in ("source_dir", "state_dir", "job_digest", "transit_dir"):
            print(f"{a.workload} {k} = {v}")
    for f in failures[:20]:
        print(f"{a.workload} FAILED: {f}")
    if a.trace:
        for k, v in res["layers"].items():
            print(f"{a.workload} {k} = {v:.6g}")
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["layers"].items()}
        trace_file = os.path.join(WORK, "traces",
                                  f"{a.workload}-s{a.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump({"spans": res["spans"], "layers": res["layers"]}, f)
        print(f"{a.workload} spans written to {trace_file}")
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    return {"correct": not failures, "attempted": attempted,
            "failed": failed_ops, "metrics": metrics}


def layer_unit(name):
    m = name.rsplit(".", 1)[1]
    return {"jobs": "count", "batches": "count", "shuffle_mb": "MB",
            "state_mb": "MB"}.get(m, "s")


if __name__ == "__main__":
    sys.exit(main())

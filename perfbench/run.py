#!/usr/bin/env python3
"""Repo benchmark: one command, four workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The script

1. builds the benchmark JVM (the engine's main sources plus
   perfbench/src) with sbt, once per source state, into .bench_build/;
2. generates the seed's inputs once per seed and source state, outside
   all timing, and runs the DuckDB oracles over them;
3. runs one benchmark JVM for the workload on GraftSession.local(4);
4. checks the outputs and prints one JSON result as its last line.

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("replay_day", "tick_analytics", "graph_loops", "replay_stream")
# Input size. The reference's day is 150 000 frames per hour; one
# benchmark run must fit many closed-loop operations into its seconds,
# so the day here is smaller (see README.md, "Inputs and sizing").
FRAMES_PER_HOUR = 1000
GRAPH_SF = 0.001
# fixed heap and young generation with the parallel collector: eden is
# bump-allocated end to end, so peak RSS reflects live data, not where G1
# happened to place regions, and no concurrent GC threads add CPU noise
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m"]
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 840.0
GRAPH_QUERIES = ("q_graph_sssp", "q_graph_kcore", "q_graph_scc_entity",
                 "q_graph_pagerank", "q_graph_temporal_anf")
# the exchange timestamp of FixtureLog's hour 10 + 4 hours: the end of
# the streaming workload's input (Gen.StreamHours)
STREAM_END_MS = 1751378400000 + 4 * 3600000

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    main = ROOT / "src" / "main" / "scala"
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def build(stamp, jars):
    """Compile once per source state; return the JVM classpath."""
    cp_file = BUILD / f"classpath-{stamp}.txt"
    if cp_file.exists():
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=str(jars))
    log = BUILD / "build.log"
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S)
    log.write_text(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp_file.write_text(lines[-1])
    return lines[-1]


def java_cmd(cp, work, *args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [str(java), *JVM_MEMORY, *opens,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.BenchMain", *args]


def run_jvm(cmd, work, log_name, timeout):
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    with open(work / log_name, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:  # run() has killed and reaped the JVM
            fail(f"benchmark JVM exceeded its time limit; see {work / log_name}")
    return r.returncode


# ---------------------------------------------------------------- inputs

def gen_graph_tables(con, out, seed, sf):
    """lineitem and events with the shape of the engine's sf test tables:
    i.i.d. rows, 6M*sf lineitems over 1.5M*sf orders, 200k*sf parts and
    10k*sf suppliers; 1M*sf events of 15k*sf users over 30 days."""
    out.mkdir(parents=True, exist_ok=True)
    n_li, n_ord, n_part, n_supp = (int(x * sf) for x in (6e6, 1.5e6, 2e5, 1e4))
    n_ev, n_user = int(1e6 * sf), int(15000 * sf)

    def r(tag, mod):
        return f"CAST(hash(i, {seed}, '{tag}') % {mod} AS BIGINT)"
    con.sql(f"""COPY (
      SELECT CAST({r('o', n_ord)} AS BIGINT) AS l_orderkey,
             CAST({r('p', n_part)} AS BIGINT) AS l_partkey,
             CAST({r('s', n_supp)} AS BIGINT) AS l_suppkey,
             CAST(1 + {r('l', 7)} AS INTEGER) AS l_linenumber,
             CAST(1 + {r('q', 50)} AS DOUBLE) AS l_quantity,
             round((1 + {r('q', 50)}) * (900 + {r('e', 1100)}) + {r('c', 100)} / 100.0, 2)
               AS l_extendedprice,
             CAST({r('d', 11)} AS DOUBLE) / 100 AS l_discount,
             CAST({r('t', 9)} AS DOUBLE) / 100 AS l_tax,
             ['A', 'N', 'R'][1 + {r('f', 3)}] AS l_returnflag,
             ['O', 'F'][1 + {r('g', 2)}] AS l_linestatus,
             TIMESTAMP '1992-01-01' + to_days(CAST({r('h', 3650)} AS INTEGER)) AS l_shipdate
      FROM range({n_li}) t(i) ORDER BY i
    ) TO '{out}/lineitem.parquet' (FORMAT PARQUET)""")
    con.sql(f"""COPY (
      WITH e AS (
        SELECT i,
               TIMESTAMP '2024-01-01' + to_microseconds(CAST({r('ts', 30 * 86400 * 1000000)} AS BIGINT)) AS ts,
               CAST({r('u', n_user)} AS BIGINT) AS user_id,
               ['signup', 'click', 'error', 'view', 'purchase'][1 + {r('k', 5)}] AS event_type,
               round(CAST({r('v', 20000)} AS DOUBLE) / 100, 2) AS value,
               '{{"k": ' || {r('j', 100)} || '}}' AS props
        FROM range({n_ev}) t(i))
      SELECT CAST(row_number() OVER (ORDER BY ts, i) - 1 AS BIGINT) AS event_id,
             ts, user_id, event_type, value, props
      FROM e ORDER BY event_id
    ) TO '{out}/events.parquet' (FORMAT PARQUET)""")


def duck(duckdb):
    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql(f"SET temp_directory = '{BUILD / 'duckdb_tmp'}'")
    return con


def canon_hash(con, sql):
    """Row count and an order-insensitive hash of a result: columns sorted
    by name, numbers rounded to 6 decimals, rows sorted."""
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]

    def cell(v):
        if isinstance(v, (float, Decimal)):
            return f"{float(v):.6f}"
        return repr(v)
    rows = sorted("|".join(cell(row[i]) for i in idx) for row in rel.fetchall())
    h = hashlib.sha256(("\x1f".join(cols) + "\n" + "\n".join(rows)).encode()).hexdigest()
    return len(rows), h


TICK_HASH = "count(*), CAST(sum(hash(timestamp, kind, market, asset, side, price, size)) AS VARCHAR)"


def prepare_inputs(cp, stamp, seed, duckdb, graph):
    """Generate one seed's inputs and oracle answers once; reuse after.
    The graph tables are made only when asked for."""
    key = f"seed{seed}-f{FRAMES_PER_HOUR}-g{GRAPH_SF}-{stamp}"
    inputs = BUILD / "inputs" / key
    done = inputs / "expected.json"
    if not done.exists():
        prepare_log_inputs(cp, seed, duckdb, inputs)
    expected = json.loads(done.read_text())
    graph_done = inputs / "graph_expected.json"
    if graph and not graph_done.exists():
        prepare_graph_inputs(seed, duckdb, inputs, graph_done)
    if graph_done.exists():
        expected["graph"] = json.loads(graph_done.read_text())
    return inputs, expected


def prepare_log_inputs(cp, seed, duckdb, inputs):
    if inputs.exists():
        shutil.rmtree(inputs)
    inputs.mkdir(parents=True)
    t0 = time.time()
    if run_jvm(java_cmd(cp, inputs, "gen", str(inputs), str(seed), str(FRAMES_PER_HOUR)),
               inputs, "gen.log", RUN_LIMIT_S) != 0:
        fail(f"input generation failed; see {inputs / 'gen.log'}")
    con = duck(duckdb)
    (inputs / "msgs").mkdir()
    con.sql(f"""COPY (SELECT * FROM read_json('{inputs}/msgs.jsonl', format = 'newline_delimited',
      columns = {{file_hour: 'VARCHAR', line_no: 'BIGINT', msg_idx: 'INTEGER',
        event_type: 'VARCHAR', market: 'VARCHAR', asset: 'VARCHAR', ts: 'VARCHAR',
        side: 'VARCHAR', price: 'VARCHAR', size: 'VARCHAR',
        asks: 'STRUCT(price VARCHAR, size VARCHAR)[]',
        bids: 'STRUCT(price VARCHAR, size VARCHAR)[]',
        changes: 'STRUCT(price VARCHAR, size VARCHAR, side VARCHAR)[]'}}))
      TO '{inputs}/msgs/msgs.parquet' (FORMAT PARQUET)""")
    (inputs / "msgs.jsonl").unlink()
    oracle = json.loads((inputs / "oracle.json").read_text())
    con.sql(f"CREATE TEMP TABLE oracle_ticks AS {oracle['replay_ticks']}")
    n, h = con.sql(f"SELECT {TICK_HASH} FROM oracle_ticks").fetchone()
    n_stream = con.sql("SELECT count(*) FROM oracle_ticks "
                       f"WHERE CAST(timestamp AS BIGINT) < {STREAM_END_MS}").fetchone()[0]
    con.close()
    expected = {"replay_ticks": [n, h], "stream_ticks": n_stream,
                "manifest": json.loads((inputs / "manifest.json").read_text()),
                "prepare_s": time.time() - t0}
    (inputs / "expected.json").write_text(json.dumps(expected, indent=1))


def prepare_graph_inputs(seed, duckdb, inputs, done):
    con = duck(duckdb)
    gen_graph_tables(con, inputs / "graph", seed, GRAPH_SF)
    for t in ("lineitem", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/graph/{t}.parquet')")
    oracle = json.loads((inputs / "oracle.json").read_text())
    graph = {q: list(canon_hash(con, oracle[q])) for q in GRAPH_QUERIES}
    con.close()
    done.write_text(json.dumps(graph, indent=1))


# ---------------------------------------------------------------- checks

def check_outputs(workload, res, inputs, expected, duckdb):
    """Harness-side output checks; returns a list of failures."""
    facts, bad = res.get("facts", {}), []
    if facts.get("verify_failed"):
        return ["in-JVM output check failed"]
    con = duck(duckdb)
    try:
        if workload == "replay_day":
            n, h = con.sql(f"SELECT {TICK_HASH} FROM read_parquet('{facts['replay_out']}/*.parquet')").fetchone()
            if [n, h] != expected["replay_ticks"]:
                bad.append(f"replay ticks {n}/{h} != oracle {expected['replay_ticks']}")
        elif workload == "replay_stream":
            if facts.get("stream_ticks") != expected["stream_ticks"]:
                bad.append(f"stream ticks {facts.get('stream_ticks')} != oracle {expected['stream_ticks']}")
        elif workload == "graph_loops":
            for q in GRAPH_QUERIES:
                got = list(canon_hash(con, f"SELECT * FROM read_parquet('{facts[q]}/*.parquet')"))
                if got != expected["graph"][q]:
                    bad.append(f"{q}: {got} != oracle {expected['graph'][q]}")
        elif workload == "tick_analytics":
            # results must hash-equal across runs of the same seed
            ref = inputs / "analytics_hashes.json"
            got = {k: v for k, v in facts.items()}
            if ref.exists():
                want = json.loads(ref.read_text())
                if got != want:
                    bad.append(f"analytics hashes {got} != earlier run {want}")
            else:
                ref.write_text(json.dumps(got, indent=1))
    except Exception as e:  # a check that cannot run is a failed check
        bad.append(f"check error: {e}")
    finally:
        con.close()
    return bad


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "BENCHMARK.json").exists():
        fail("run from the root of a checkout of the engine (src/main/scala not found)")
    try:
        import duckdb
    except ImportError:
        fail("the duckdb Python module is required for the output checks")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    stamp = source_stamp()
    cp = build(stamp, spark_jars())
    inputs, expected = prepare_inputs(cp, stamp, a.seed, duckdb,
                                      graph=a.trace == 1 or a.workload == "graph_loops")

    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    result = work / "result.json"
    code = run_jvm(java_cmd(cp, work, "run", a.workload, str(inputs), str(work),
                            str(a.seconds), str(a.trace), str(result)),
                   work, "jvm.log", RUN_LIMIT_S - (time.time() - started))
    if code != 0 or not result.exists():
        fail(f"benchmark JVM failed (exit {code}); see {work / 'jvm.log'}")
    res = json.loads(result.read_text())
    bad = check_outputs(a.workload, res, inputs, expected, duckdb)
    attempted, failed = res["attempted"], res["failed"]
    if bad:
        failed = attempted  # a wrong output poisons every operation of the run
    ok = failed == 0
    if ok:  # the outputs of a failed run stay for inspection
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = res["per_layer"]
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {
            "wall_s": statistics.median(res["wall_s"]) if res["wall_s"] else None,
            "cpu_s": statistics.median(res["cpu_s"]) if res["cpu_s"] else None,
            "setup_s": statistics.median(res["setup_s"]) if res["setup_s"] else None,
            "peak_rss_mb": res["peak_rss_mb"],
        }
    if not ok:  # a failed run reports no figures, so a failure never reads as a time
        values = {}
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "error_rate": failed / attempted if attempted else 1.0,
        "wall_samples": res["wall_s"], "cpu_samples": res["cpu_s"],
        "setup_samples": res["setup_s"], "session": res["session"],
        "errors": res["errors"] + bad, "inputs": expected["manifest"],
        "run_s": time.time() - started,
    }
    print("perfbench summary: " + json.dumps(summary))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": values.get(n), "unit": u}
                                  for n, u in units.items()}}))


if __name__ == "__main__":
    main()

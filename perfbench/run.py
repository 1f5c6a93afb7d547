#!/usr/bin/env python3
"""Run one benchmark workload and print its record.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program and the benchmark from
source with sbt (offline), generates the query workloads' input tier and
caches the DuckDB oracle answers; later runs reuse all three while the
sources they depend on are unchanged. Everything is written under
perfbench/.build.

The last line printed is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import shutil
import signal
import struct
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
SPEC = ROOT / "BENCHMARK.json"
# Seconds a run may take; a run that first builds the program may take
# longer. Both leave room for the oracle check after the JVM exits.
DEADLINE_S = 165.0
FIRST_RUN_DEADLINE_S = 870.0

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def is_build_output(rel):
    """True for files sbt writes while it loads or compiles a build:
    anything under a `target` directory or a nested `project/project`."""
    parts = rel.parts
    return "target" in parts or any(a == b == "project" for a, b in zip(parts, parts[1:]))


def fingerprint(paths):
    """sha256 over the relative path and content of every source file under
    `paths`."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if p.is_file():
            files.append(p)
        elif p.is_dir():
            files.extend(f for f in p.rglob("*") if f.is_file())
    files = [f for f in files if not is_build_output(f.relative_to(ROOT))]
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def run_child(cmd, cwd, log, timeout, env=None):
    """Run `cmd` in its own process group, output to `log`. If it outlives
    `timeout`, or this script is stopped, kill the whole group and wait for
    it."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def build(start):
    """Compile the repo and the benchmark with sbt when their sources
    changed; return the runtime classpath."""
    sources = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
               BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src" / "main"]
    key = fingerprint([p for p in sources if p.exists()])
    stamp = BUILD / "build.json"
    if stamp.exists():
        prior = json.loads(stamp.read_text())
        if prior.get("fingerprint") == key and all(
                Path(e).exists() for e in prior["classpath"].split(os.pathsep)):
            return prior["classpath"], key
    # Offline only: resolve from the local caches, through the repository
    # list in ~/.sbt/repositories when there is one (the tier-1 settings).
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    if "-Dsbt.repository.config" not in opts and repos.is_file():
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log = BUILD / "build.log"
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                      "compile", "export Runtime/fullClasspath"],
                     BENCH, log, 800 - (time.time() - start), env)
    lines = log.read_text(errors="replace").splitlines()
    cp = next((l.strip() for l in reversed(lines)
               if os.pathsep in l and ".jar" in l and not l.startswith("[")), None)
    if code != 0 or cp is None:
        fail(f"build failed (exit {code}); see {log}", 1)
    stamp.write_text(json.dumps({"fingerprint": key, "classpath": cp}))
    return cp, key


def git_commit():
    """The commit a git checkout is at; None outside git (the source
    fingerprint identifies the code either way)."""
    if not (ROOT / ".git").exists() or shutil.which("git") is None:
        return None
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                         text=True, timeout=30)
    return out.stdout.strip() or None


def heap_gib():
    """MemTotal / 2, clamped to 2-8 GiB, as the repo's tier-1 tests size it."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def java_cmd(cp, main_args):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{heap_gib()}g", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
             "-cp", cp, "perfbench.Main"] + main_args)


def ensure_tier(cp, start):
    """The query workloads' fixed input tier, generated once per generator
    version."""
    key = fingerprint([BENCH / "src" / "main" / "scala" / "perfbench" / "TierGen.scala",
                       ROOT / "src" / "main" / "scala" / "graft" / "tools" / "GenData.scala"])[:16]
    tier = BUILD / f"tier-{key}"
    if (tier / "READY").exists():
        return tier, key
    shutil.rmtree(tier, ignore_errors=True)
    work = BUILD / "gentier-work"
    code = run_child(java_cmd(cp, ["gentier", str(tier), str(work)]), ROOT,
                     BUILD / "gentier.log", 600 - (time.time() - start))
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"tier generation failed (exit {code}); see {BUILD / 'gentier.log'}", 1)
    (tier / "READY").write_text("ok\n")
    return tier, key


# --- oracle check -----------------------------------------------------------

def canon_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack("<d", v).hex()
    if v is None:
        return None
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        return "[" + ",".join(str(canon_value(x)) for x in v) + "]"
    return str(v)


def digest(con, sql):
    """Canonical digest of a result: columns sorted by name, timestamps
    normalised to UTC without zone, floats compared by bit pattern, rows
    sorted."""
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    sel = ", ".join(
        f'CAST("{c}" AS TIMESTAMP) AS "{c}"' if types[c] == "TIMESTAMP WITH TIME ZONE" else f'"{c}"'
        for c in cols)
    rows = [tuple(canon_value(v) for v in r)
            for r in con.sql(f"SELECT {sel} FROM ({sql})").fetchall()]
    rows.sort(key=lambda t: tuple((x is None, x if x is not None else "") for x in t))
    h = hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()
    return {"columns": cols, "rows": len(rows), "sha256": h}


def oracle_check(result, run_dir, tier, tier_key):
    """Compare every query's full result with its DuckDB oracle. Oracle
    answers depend only on the tier and the SQL, so they are cached."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in sorted(tier.glob("*.parquet")):
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {p.name[:-8]} AS SELECT * FROM read_parquet('{src}')")
    cache = BUILD / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    checks = []
    for q in sorted(result["oracle"]):
        sql = result["oracle"][q]
        entry = cache / (hashlib.sha256((tier_key + "\0" + sql).encode()).hexdigest() + ".json")
        try:
            if entry.exists():
                want = json.loads(entry.read_text())
            else:
                want = digest(con, sql)
                entry.write_text(json.dumps(want))
            got = digest(con, f"SELECT * FROM read_parquet('{run_dir / 'results' / q}/*.parquet')")
            ok = got == want
            detail = f"rows={got['rows']}" if ok else f"spark={got} oracle={want}"
        except Exception as e:  # a missing result or a failing oracle is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        checks.append({"name": f"oracle:{q}", "ok": ok, "detail": detail})
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tier", help="run the query workloads on this directory of tables "
                    "instead of the generated tier (to compare the two)")
    a = ap.parse_args()
    start = time.time()

    if not SPEC.is_file():
        fail(f"{SPEC.name} not found at the checkout root")
    spec = json.loads(SPEC.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", BENCH / "build.sbt"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    BUILD.mkdir(exist_ok=True)
    cp, source_key = build(start)
    if a.tier:
        tier = Path(a.tier).resolve()
        tier_key = hashlib.sha256(str(tier).encode()).hexdigest()[:16]
    else:
        tier, tier_key = ensure_tier(cp, start)

    run_dir = BUILD / "runs" / (f"{a.workload}-seed{a.seed}-trace{a.trace}" +
                                (f"-tier{tier_key}" if a.tier else ""))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    deadline = DEADLINE_S if time.time() - start < 30 else FIRST_RUN_DEADLINE_S
    code = run_child(java_cmd(cp, ["run", "--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--tier", str(tier), "--out", str(run_dir)]),
                     ROOT, run_dir / "jvm.log", deadline - 15 - (time.time() - start))
    result_file = run_dir / "result.json"
    if code != 0 or not result_file.exists():
        fail(f"workload run failed (exit {code}); see {run_dir / 'jvm.log'}", 1)
    result = json.loads(result_file.read_text())

    oracle = oracle_check(result, run_dir, tier, tier_key) if result["oracle"] else []
    attempted = result["attempted"] + len(oracle)
    failed = result["failed"] + sum(1 for c in oracle if not c["ok"])
    checks = result["checks"] = result["checks"] + oracle
    result["box"]["source_fingerprint"] = source_key
    result["box"]["git_commit"] = git_commit()
    result["failure_ratio"] = failed / max(1, attempted)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = result["per_layer"] if a.trace else result["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"the run did not report {missing}", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    (run_dir / "record.json").write_text(json.dumps(result, indent=1) + "\n")

    lat = result["latency"]
    tail = lat["tail"]
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} box={json.dumps(result['box'])}")
    print(f"latency: n={lat['n']} failures={lat['failures']} p50={lat['p50_ms']:.1f} ms " +
          (f"p{tail['percentile'] * 100:g}={tail['value_ms']:.1f} ms ({tail['beyond']} beyond)"
           if tail else "tail: fewer than 10 samples beyond the median"))
    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    for e in result["errors"]:
        print(f"ERROR {e}")
    if a.trace:
        layers = json.loads((run_dir / "layers.json").read_text())["by_layer"]
        print(f"layer table (traced timed operations; {run_dir / 'spans.jsonl'}):")
        for name, st in layers.items():
            print(f"  {name:<12} n={st['n']:<4} median={st['median_ms']:9.1f} ms "
                  f"self={st['median_self_ms']:9.1f} ms")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']} {m['unit']}")
    print(f"failure_ratio = {result['failure_ratio']} ({failed} of {attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # A stop request unwinds through run_child, which stops the JVM or sbt.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())

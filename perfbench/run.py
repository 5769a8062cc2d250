#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: genesis_refresh, query_keys (see perfbench/README.md).
Extra flags are passed to the benchmark main unchanged, e.g. `--plant throw`,
`--plant corrupt` or `--record-golden 1`.

The first run builds with sbt (the engine's own build plus perfbench/build.sbt)
and caches the classpath under .bench_build/; later runs start the JVM
directly. Everything the run writes stays under .bench_build/. The last line
of standard output is the result as one JSON object.
"""
import hashlib
import os
import pathlib
import signal
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
OUT = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_rev():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(rev):
    """Compiles with sbt unless the cached classpath matches `rev`."""
    cp_file, stamp = OUT / "classpath.txt", OUT / "classpath.rev"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == rev:
        return cp_file.read_text().strip()
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = OUT / "build.log"
    with open(log, "w") as out:
        res = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().strip().splitlines()
    if res != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-40:]))
        sys.exit(f"build failed (rc={res}); log in {log}")
    cp_file.write_text(lines[-1])
    stamp.write_text(rev)
    return lines[-1]


def run_killable(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def heap_gb():
    """Half the machine's memory, kept within 2-4 GB."""
    kb = int(next(l.split()[1] for l in open("/proc/meminfo") if l.startswith("MemTotal:")))
    return max(2, min(4, kb // (2 * 1024 * 1024)))


def main():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("run.py: no engine sources (build.sbt, src/main/scala) in the current "
                 "directory; run it from the root of a checkout")
    args = sys.argv[1:]
    rev = source_rev()
    classpath = build(rev)
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    heap = f"{heap_gb()}g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss4m", "-Duser.timezone=UTC",
           "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={OUT / 'warehouse'}",
           f"-Dderby.system.home={OUT}", "-Dspark.ui.enabled=false",
           f"-Dperfbench.source_rev={rev}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    log_dir = OUT / "logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    err = log_dir / "last.err"
    with open(err, "w") as e:
        rc = run_killable(cmd, cwd=ROOT, stderr=e, timeout=RUN_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write("".join(err.read_text().splitlines(True)[-40:]))
        sys.exit(f"benchmark exited with {rc}")


if __name__ == "__main__":
    main()

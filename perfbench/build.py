#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft and the benchmark with scalac.

Run from anywhere: `python3 perfbench/build.py`. It compiles
`src/main/scala` (the program, exactly as committed) and then
`perfbench/src` (the benchmark, against the program's classes) into
`.bench_build/` at the checkout root, and prints the runtime classpath.
Nothing is downloaded: the Scala compiler and every dependency are the
jars of the Spark installation: `$SPARK_HOME/jars`, or the `jars` directory
beside the `bin/spark-submit` found on PATH.
A build is skipped when the sources hash to the stamp of the last one.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """`$SPARK_HOME/jars`, else the first `jars` beside a `bin/spark-submit`
    on PATH that holds the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        pathlib.Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if pathlib.Path(d, "spark-submit").is_file()]
    for home in homes:
        jars = pathlib.Path(home) / "jars"
        if (jars / f"scala-compiler-{SCALA}.jar").is_file():
            return jars
    raise BuildError(f"no Spark with scala-compiler-{SCALA}.jar: set SPARK_HOME or put spark-submit on PATH")


def _sources(d: pathlib.Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(paths, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(srcs, classpath: str, out: pathlib.Path) -> None:
    jars = spark_jars()
    compiler = os.pathsep.join(str(jars / f"scala-{n}-{SCALA}.jar")
                               for n in ("compiler", "library", "reflect"))
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(tmp)] + [str(s) for s in srcs]
    rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed (exit {rc}) for {out.name}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def _stage(name: str, srcs, classpath: str, build: pathlib.Path, key: str) -> pathlib.Path:
    out = build / name
    stamp = build / f"{name}.stamp"
    if out.is_dir() and stamp.is_file() and stamp.read_text() == key:
        return out
    print(f"[build] compiling {len(srcs)} sources into {out}", file=sys.stderr)
    _scalac(srcs, classpath, out)
    stamp.write_text(key)
    return out


def build(root: pathlib.Path) -> str:
    """Compile what changed and return the runtime classpath."""
    jars = spark_jars()
    main_src = _sources(root / "src" / "main" / "scala")
    bench_src = _sources(root / "perfbench" / "src")
    if not main_src:
        raise BuildError(f"no program sources under {root / 'src/main/scala'}")
    if not bench_src:
        raise BuildError(f"no benchmark sources under {root / 'perfbench/src'}")
    build_dir = root / ".bench_build"
    build_dir.mkdir(exist_ok=True)
    jar_cp = str(jars / "*")
    main_key = _digest(main_src)
    main_out = _stage("classes", main_src, jar_cp, build_dir, main_key)
    bench_out = _stage("bench-classes", bench_src, os.pathsep.join([jar_cp, str(main_out)]),
                       build_dir, _digest(bench_src, main_key))
    resources = root / "src" / "main" / "resources"
    return os.pathsep.join([str(bench_out), str(main_out), str(resources), jar_cp])


if __name__ == "__main__":
    try:
        print(build(pathlib.Path(__file__).resolve().parent.parent))
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)

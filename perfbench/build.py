"""Builds the program and the benchmark from source with the Scala compiler
that ships in the Spark distribution's jars (no sbt, no downloads).

Two class trees, each rebuilt only when its sources change:
  <out>/program  the program's src/main/scala (+ src/main/resources)
  <out>/bench    perfbench/src, compiled against <out>/program

Run on its own: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = Path(__file__).resolve().parent / "src"
OUT = ROOT / ".bench_build" / "perfbench" / "classes"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    spark-submit on PATH that belongs to a full distribution."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if Path(d, "spark-submit").is_file()]
    for home in homes:
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler "
                     "(set SPARK_HOME or put its bin/ on PATH)")


def java_bin() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    return "java"


def _stamp(files, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(name: str, sources, resources, classpath: str, extra: str):
    """Returns (class dir, whether it was compiled now)."""
    if not sources:
        raise BuildError(f"{name}: no Scala sources found")
    out = OUT / name
    has_resources = resources is not None and resources.is_dir()
    stamp = _stamp(list(sources) + (sorted(p for p in resources.rglob("*") if p.is_file())
                                    if has_resources else []), extra)
    stamp_file = out / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return out, False
    tmp = OUT / (name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / (name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-d", str(tmp), "-classpath", classpath,
           "-nowarn", "-Ybackend-parallelism", str(max(1, min(4, os.cpu_count() or 1))),
           "@" + str(argfile)]
    print(f"[perfbench] compiling {name} ({len(sources)} files)", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError(f"{name}: scalac exited {proc.returncode}")
    if has_resources:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, True


def build():
    """Returns (class directories with the program first, whether anything
    was compiled now)."""
    jars = spark_jars()
    OUT.mkdir(parents=True, exist_ok=True)
    jar_cp = str(jars / "*")
    scalac = sorted(p.name for p in jars.glob("scala-*.jar"))
    program_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    program, built_program = _compile("program", program_src,
                                      ROOT / "src" / "main" / "resources", jar_cp,
                                      " ".join(scalac))
    bench_src = sorted(BENCH_SRC.rglob("*.scala"))
    bench, built_bench = _compile("bench", bench_src, None,
                                  f"{program}{os.pathsep}{jar_cp}",
                                  " ".join(scalac) + (program / ".stamp").read_text())
    return [program, bench], built_program or built_bench


if __name__ == "__main__":
    try:
        print(os.pathsep.join(str(p) for p in build()[0]))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)

"""Build file of the benchmark: compiles the engine and the harness.

The engine sources (`src/main/scala`, `src/main/resources`) and the
harness (`perfbench/harness`) are compiled together with the Scala
compiler that ships in Spark's `jars/` directory, and packed as
`engine.jar` and `resources.jar` into `.bench_build/build-<digest>`, where
the digest covers every source and resource file. A later run with the same
sources reuses that directory, so only the first run in a checkout pays
for compilation.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = ROOT / ".bench_build"


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


RESOURCES = ROOT / "src" / "main" / "resources"


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not (engine / "graft" / "SparkEntry.scala").is_file():
        raise SystemExit(f"perfbench: engine sources missing under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "harness").glob("*.scala"))


def _jar(src_dir, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(p for p in src_dir.rglob("*") if p.is_file()):
            z.write(f, f.relative_to(src_dir).as_posix())


def build(log=sys.stderr):
    """Compile if needed; return (build directory, runtime classpath)."""
    srcs = sources()
    resources = sorted(p for p in RESOURCES.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for s in srcs + resources:
        h.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    out = BUILD_DIR / f"build-{h.hexdigest()[:16]}"
    cp = [str(out / "engine.jar"), str(out / "resources.jar"),
          str(spark_jars() / "*")]
    if (out / ".complete").is_file():
        return out, cp
    BUILD_DIR.mkdir(exist_ok=True)
    tmp = BUILD_DIR / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp / "classes"), "-cp", jars] + [str(s) for s in srcs]
    print(f"perfbench: compiling {len(srcs)} Scala files", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed\n" + proc.stdout[-4000:])
    _jar(tmp / "classes", tmp / "engine.jar")
    _jar(RESOURCES, tmp / "resources.jar")
    shutil.rmtree(tmp / "classes")
    (tmp / ".complete").touch()
    for old in BUILD_DIR.glob("build-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out, cp


if __name__ == "__main__":
    print(os.pathsep.join(build()[1]))

"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's JVM side (`perfbench/src`) with the Scala compiler that
ships in the Spark distribution named by SPARK_HOME.

The classes land in `.bench_build/classes-<hash>` at the repo root, keyed
by a hash of every source file, so a checkout builds once and a changed
source rebuilds. Run it alone with `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must name a Spark distribution with a jars/ directory")
    return Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found under {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def ensure_built():
    """Return the classes directory, compiling first if the sources changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    if not compiler:
        raise BuildError("no scala-compiler jar in the Spark distribution")
    h.update(compiler[0].name.encode())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".done").exists():
        return classes
    OUT.mkdir(exist_ok=True)
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = OUT / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    scala = [str(next(jars.glob(f"scala-{n}-*.jar"))) for n in ("compiler", "library", "reflect")]
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", str(jars / "*"), "-d", str(tmp), "@" + str(argfile)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    argfile.unlink()
    (tmp / ".done").write_text("ok\n")
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)

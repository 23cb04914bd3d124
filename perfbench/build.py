"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own Scala sources
(perfbench/src) into one class directory with the Scala compiler that ships
in Spark's jars.  The output is keyed by a hash of every source file, so an
unchanged tree is compiled once.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return sorted(jars.glob("*.jar"))


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return engine + bench


def build():
    """Compile if needed; returns the classpath (classes dir + Spark jars)."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    jars = spark_jars()
    cp = os.pathsep.join(str(j) for j in jars)
    if not (classes / ".complete").exists():
        tmp = Path(str(classes) + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        args_file = tmp / "sources.txt"
        args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
        cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{args_file}"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=800)
        if proc.returncode != 0:
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        args_file.unlink()
        for old in OUT.glob("classes-*"):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        tmp.rename(classes)
        (classes / ".complete").write_text("ok\n")
    return os.pathsep.join([str(classes)] + [str(j) for j in jars])


if __name__ == "__main__":
    try:
        print(build().split(os.pathsep)[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)

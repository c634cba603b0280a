"""Builds the engine and the benchmark from source with the Scala compiler
that ships with Spark, into `.bench_build/lakebench` at the repository root.

    python3 lakebench/build.py

A build is reused while the sources it was made from are unchanged. Each
part is packed as a jar, so the JVM can keep a class-data-sharing archive
of the loaded classes (`cds_archive`) next to the build.
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"
OUT = ROOT / ".bench_build" / "lakebench"
def _spark_home():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return Path(submit).resolve().parent.parent if submit else Path("spark-home-not-found")


SPARK_JARS = _spark_home() / "jars"


class BuildError(Exception):
    pass


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _scalac(classpath, dest, files, log):
    dest.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(SPARK_JARS / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", str(dest)]
    cmd += [str(f) for f in files]
    with open(log, "ab") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log}")


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(p for p in classes.rglob("*") if p.is_file()):
            z.write(f, f.relative_to(classes).as_posix())


def _build(dest, files, cp, resources=None, depends=""):
    """Compiles `files` into `dest/classes.jar` (plus a copy of `resources`)
    unless `dest` was built from the same sources and the same `depends`
    stamp."""
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources and resources.is_dir() else []
    stamp = _stamp(files + res) + depends
    if (dest / "classes.jar").exists() and _stamp_file(dest) == stamp:
        return
    tmp = dest.with_name(dest.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.parent.mkdir(parents=True, exist_ok=True)
    log = tmp.with_name(tmp.name + ".log")
    classes = tmp / "classes"
    try:
        _scalac(cp, classes, files, log)
    except (BuildError, subprocess.TimeoutExpired) as e:
        sys.stderr.write(log.read_text(errors="replace")[-4000:] if log.exists() else "")
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(str(e))
    finally:
        log.unlink(missing_ok=True)
    if res:
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    _jar(classes, tmp / "classes.jar")
    shutil.rmtree(classes)
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def _stamp_file(d):
    f = d / "STAMP"
    return f.read_text() if f.exists() else ""


def classpath():
    """Builds if needed; returns the runtime class path."""
    if not ENGINE_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    if not any(SPARK_JARS.glob("scala-compiler*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {SPARK_JARS}")
    engine, bench = _sources(ENGINE_SRC), _sources(BENCH_SRC)
    if not engine:
        raise BuildError(f"no Scala sources under {ENGINE_SRC}")
    jars = str(SPARK_JARS / "*")
    _build(OUT / "engine", engine, jars, ENGINE_RES)
    _build(OUT / "bench", bench, jars + os.pathsep + str(OUT / "engine" / "classes.jar"),
           depends=_stamp_file(OUT / "engine"))
    return os.pathsep.join([str(OUT / "bench" / "classes.jar"), str(OUT / "engine" / "classes.jar"),
                            str(SPARK_JARS / "*")])


def source_stamp():
    """Content hash of the engine and benchmark sources the build was made from."""
    return _stamp_file(OUT / "bench") or None


def cds_archive():
    """Where the JVM's class-data-sharing archive for the current build
    lives: the classes the first run loaded, from the JDK, Spark's jars and
    the build's jars, which later runs map instead of loading them one by
    one. An archive of an older build is deleted."""
    stamp = hashlib.sha256(f"{source_stamp()}{SPARK_JARS}".encode()).hexdigest()[:16]
    d = OUT / "cds"
    d.mkdir(parents=True, exist_ok=True)
    for old in d.iterdir():
        if not old.name.startswith(stamp):
            old.unlink()
    return d / f"{stamp}.jsa"


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        sys.exit(f"build failed: {e}")

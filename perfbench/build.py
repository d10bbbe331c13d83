"""Build file of the benchmark: compiles graft's sources (`src/main/scala`
of the checkout) together with the benchmark's Scala client (`perfbench/src`) into
one jar, with the Scala compiler that ships among Spark's jars.

    python3 perfbench/build.py          # prints the jar

The build is skipped when a previous one compiled the same sources.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")


def spark_jars():
    """Spark's jar directory (it also holds the Scala compiler):
    $SPARK_HOME/jars, else the jars of the installed pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            candidates.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    return candidates[0] if candidates else "jars"


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return graft, bench


def check_layout():
    """Why the benchmark cannot run here, or None."""
    graft, bench = sources()
    if not graft:
        return f"no graft sources under {os.path.join(ROOT, 'src', 'main', 'scala')}"
    if not bench:
        return f"no benchmark sources under {os.path.join(BENCH, 'src')}"
    if not glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar")):
        return f"no Spark/Scala jars under {spark_jars()} (set SPARK_HOME)"
    return None


def build(log=sys.stderr):
    graft, bench = sources()
    h = hashlib.sha256()
    for f in graft + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(WORK, "build", "classes")
    stamp_file = os.path.join(WORK, "build", "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == stamp:
        return out + ".jar", stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + graft + bench
    print(f"[perfbench] compiling {len(graft)} graft + {len(bench)} benchmark sources",
          file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"[perfbench] compile failed (exit {res.returncode})")
    # one jar rather than a class directory, so the JVM can keep a class
    # data sharing archive of it (run.py); a new build drops the old archive
    with zipfile.ZipFile(out + ".jar.tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    shutil.rmtree(tmp)
    for old in (out + ".jsa", out + ".jsa.tmp"):
        if os.path.exists(old):
            os.remove(old)
    os.rename(out + ".jar.tmp", out + ".jar")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return out + ".jar", stamp


if __name__ == "__main__":
    problem = check_layout()
    if problem:
        raise SystemExit(f"[perfbench] {problem}")
    print(build()[0])

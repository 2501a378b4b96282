"""Build file of the benchmark.

Compiles graft's main sources and the benchmark harness (perfbench/src)
with the Scala compiler that ships among Spark's jars and packs each
into a jar. A build is reused while no source file changed (content
hash): only the first run in a checkout pays.

    python3 perfbench/build.py [BUILD_DIR]     # default .bench_build
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# what a run needs when SparkSession is created outside spark-submit on
# JDK 17 (org.apache.spark.launcher.JavaModuleOptions)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the first
    `spark-submit` on PATH whose installation ships a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        jars = Path(home) / "jars"
        if glob.glob(str(jars / "scala-compiler-*.jar")):
            return str(jars / "*")
    raise SystemExit("no Spark installation with a Scala compiler among its jars; "
                     "set SPARK_HOME")


def java_cmd(classpath, tmpdir):
    """The command line of a run's JVM.

    JIT compilation stops at C1 (TieredStopAtLevel=1). With C2 on, a
    fresh JVM on a 4-core VM burns most of the first syncer cycle's CPU
    compiling (62 CPU seconds against 22-25 in later cycles), and how
    much it compiles when differs from JVM to JVM: over 5 seeds the
    spread of the syncer cycle's mean wall and CPU time was 0.10-0.11
    with C2 and 0.05 with C1 only, same machine and hour (registry
    cycles: 0.12 and 0.16, no gain). The program runs as C1 compiles
    it, so a change that helps only C2's optimizations will not show.

    The heap starts at its maximum (-Xms = -Xmx). Grown on demand, it
    stopped at one of two sizes, and a registry run's peak RSS read
    either about 900 or about 1250 MB.
    """
    return (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
             "-XX:TieredStopAtLevel=1",
             f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "graftbench.Main"])


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _compile(jar, classpath, files, log):
    """scalac `files` into a jar."""
    classes = jar.with_suffix(".classes")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = jar.with_suffix(".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", classpath, f"@{argfile}"]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(Path(log).read_text()[-4000:])
        raise SystemExit(f"compile failed ({rc}); log in {log}")
    tmp = jar.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    tmp.rename(jar)
    shutil.rmtree(classes)
    argfile.unlink()


def build(build_dir):
    """Returns the run classpath, building whatever is out of date."""
    build_dir = Path(build_dir)
    build_dir.mkdir(parents=True, exist_ok=True)
    graft_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench_src = sorted((HERE / "src").rglob("*.scala"))
    if not graft_src:
        raise SystemExit("no graft sources under src/main/scala")
    graft_jar = build_dir / f"graft-{_digest(graft_src)}.jar"
    key = _digest(graft_src + bench_src)
    bench_jar = build_dir / f"bench-{key}.jar"
    if not graft_jar.exists():
        _compile(graft_jar, spark_jars(), graft_src, build_dir / "graft-build.log")
    if not bench_jar.exists():
        _compile(bench_jar, f"{graft_jar}:{spark_jars()}", bench_src,
                 build_dir / "bench-build.log")
    return f"{bench_jar}:{graft_jar}:{spark_jars()}"


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build"))

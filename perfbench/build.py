"""Build the engine and the benchmark's JVM harness from source.

Compiles every Scala file under `src/main/scala` (the library, exactly as
the repo's own build compiles it) together with `perfbench/src` into
`<build dir>/classes-<digest>`, with the Scala compiler and the Spark jars
of the jar directory the repo's build.sbt names (`unmanagedBase`), or of
`$SPARK_HOME/jars` when that is set. A digest of the sources skips the
compile when nothing changed.

Run directly: python3 perfbench/build.py [build dir]
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt's list).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    return main, bench


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(build_dir):
    """Compile if the sources changed; returns (classes dir, digest)."""
    main, bench = sources()
    if not main:
        raise SystemExit("no engine sources under src/main/scala")
    key = digest(main + bench)
    classes = os.path.join(build_dir, f"classes-{key}")
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, key
    os.makedirs(classes, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    subprocess.run(
        ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}",
         "-Xss8m", "-Xmx2g", "-cp", jars,
         "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes] + main + bench,
        check=True, stdout=sys.stderr)
    open(os.path.join(classes, ".complete"), "w").close()
    return classes, key


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else
                os.path.join(ROOT, ".bench_build"))[0])

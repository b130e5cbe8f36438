"""Build file of the benchmark: compiles graft's sources together with the
harness into one jar, with the Scala compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`), so no dependency is fetched.

The jar is cached as `.bench_build/graft-<hash>.jar`, keyed by the content
of every compiled source, so an unchanged tree is not rebuilt. It is a jar
rather than a class directory because the JVM's class-data sharing archive
(see `cds_options`) only holds classes loaded from jars.

Usage: python3 pipebench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark on JDK 17 needs these when the session is built outside
# spark-submit; the same list as graft's own build.sbt.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar"]
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise SystemExit("pipebench: SPARK_HOME must point at a Spark install "
                         "whose jars/ holds the Scala compiler")
    return os.path.join(home, "jars", "*")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"pipebench: no graft sources under {main}")
    return found + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build(root):
    """Return the jar for the current sources and its key, compiling if needed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(root, ".bench_build", f"graft-{key}.jar")
    if os.path.isfile(out):
        return out, key
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = out + ".tmp.jar"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise SystemExit(f"pipebench: compile failed ({r.returncode})")
    os.replace(tmp, out)
    return out, key


def cds_options(jar):
    """JVM options for the class-data sharing archive of `jar`: use it
    once it exists; until then, the run writes it when the JVM exits (to
    the path `commit_cds` renames into place after a clean exit). Every
    run after the first of a build loads the classes graft and Spark need
    from that archive instead of from the jars, which shortens the set-up
    by several seconds and leaves the timed work as it is."""
    jsa = jar[:-len(".jar")] + ".jsa"
    quiet = "-Xlog:cds=error"  # not a warning per class it cannot archive
    if os.path.isfile(jsa):
        return [quiet, f"-XX:SharedArchiveFile={jsa}"]
    return [quiet, f"-XX:ArchiveClassesAtExit={jsa}.tmp"]


def commit_cds(jar):
    jsa = jar[:-len(".jar")] + ".jsa"
    if os.path.isfile(jsa + ".tmp"):
        os.replace(jsa + ".tmp", jsa)


if __name__ == "__main__":
    print(build(os.getcwd())[0])

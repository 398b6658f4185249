"""Builds the engine and the benchmark into one class directory.

The benchmark's build file: it compiles the engine's main sources
(`src/main/scala`) together with the benchmark's own (`perfbench/scala`)
with the Scala compiler that ships among the Spark jars the engine's
`build.sbt` names as its `unmanagedBase`. The output lands in
`.bench_build/classes-<source hash>` and is reused while no source
changes. Run directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jar directory `build.sbt` compiles against, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def jdk_add_opens():
    """The JDK 17 `--add-opens` flags `build.sbt` passes to forked JVMs."""
    sbt = os.path.join(ROOT, "build.sbt")
    block = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", open(sbt).read(), re.S)
    if not block:
        raise SystemExit("build: build.sbt lists no jdk17AddOpens")
    flags = []
    for mod in re.findall(r'"([^"]+)"', block.group(1)):
        flags += ["--add-opens", mod + "=ALL-UNNAMED"]
    return flags


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("build: no engine sources under src/main/scala")
    out = []
    for base in (main, os.path.join(HERE, "scala")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def inputs_tag():
    """A hash of what the workloads' fixed inputs depend on: the
    benchmark's own sources and the Spark jars that write them."""
    h = hashlib.sha256()
    base = os.path.join(HERE, "scala")
    for d, _, fs in sorted(os.walk(base)):
        for f in sorted(fs):
            h.update(os.path.relpath(os.path.join(d, f), base).encode())
            h.update(open(os.path.join(d, f), "rb").read())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()[:16]


def build():
    """Returns the class directory, compiling first if the sources changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + [os.path.join(ROOT, "build.sbt")]:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    tag = h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, "classes-" + tag)
    if os.path.exists(os.path.join(out, ".complete")):
        return out, jars, tag
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build: scalac failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out, jars, tag


if __name__ == "__main__":
    print(build()[0])

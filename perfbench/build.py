"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/scala`) with the Scala compiler that ships in Spark's jar
directory. Output goes to `.bench_build/graftbench/<source hash>/classes`
and is reused while no source changes.

Run directly to build only:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars_dir(root):
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("graftbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def spark_jars(root):
    d = spark_jars_dir(root)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"graftbench: no Spark jars under {d} (set SPARK_HOME)")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"graftbench: engine sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return files


def ensure(root, log=sys.stderr):
    """Return the classes directory for the current sources, compiling if needed."""
    files = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    base = os.path.join(root, ".bench_build", "graftbench")
    out = os.path.join(base, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "OK")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    with open(os.path.join(tmp, "sources.txt"), "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", os.path.join(tmp, "classes"),
           "-classpath", cp, "@" + os.path.join(tmp, "sources.txt")]
    print(f"graftbench: compiling {len(files)} sources", file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("graftbench: compilation failed")
    open(os.path.join(tmp, "OK"), "w").close()
    os.rename(tmp, out)
    # Builds of older source trees are not reused.
    for d in os.listdir(base):
        if d != os.path.basename(out):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd()))

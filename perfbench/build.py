"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark's JVM half (perfbench/src) with the Scala compiler that ships
in the Spark distribution, so no build tool or network is needed.

    python3 perfbench/build.py        # prints the classes directory

The output goes to `$CARGO_TARGET_DIR/classes` (default `.bench_build`).
A stamp over the source files skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, else the
    directory the repository's build.sbt takes its jars from."""
    cands = [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else []
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no graft sources under {main}")
    files = []
    for top in (main, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile when the sources changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
                        for n in ("compiler", "library", "reflect"))
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("perfbench: compile failed")
    os.remove(argfile)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build())

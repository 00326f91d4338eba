"""Build file of the benchmark: compiles the product sources
(src/main/scala) and the benchmark's own sources (loadbench/src) with the
Scala compiler that ships in Spark's jars. Outputs go under the build
directory; a tree whose sources are unchanged since its last build is
reused.

    python3 loadbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.abspath(".bench_build")
PRODUCT_SOURCES = os.path.join("src", "main", "scala")
PRODUCT_RESOURCES = os.path.join("src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("loadbench: set SPARK_HOME to a Spark 4 install "
                 "(its jars/ directory provides Spark and the Scala compiler)")
    return jars


def scala_sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, sources, classpath, depends, jars, log):
    """Compile `sources` into BUILD_DIR/name unless its stamp says the
    sources, classpath and `depends` (digests of trees it compiles
    against) are unchanged. Returns (output dir, its digest)."""
    out = os.path.join(BUILD_DIR, name)
    stamp = out + ".stamp"
    want = digest(sources, classpath + depends)
    if os.path.isdir(out) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == want:
                return out, want
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + sources
    with open(log, "a") as fh:
        if subprocess.run(cmd, stdout=fh, stderr=fh).returncode != 0:
            sys.exit(f"loadbench: compiling {name} failed, see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(want)
    return out, want


def build():
    """Compile what changed; return the runtime classpath."""
    product = scala_sources(PRODUCT_SOURCES)
    if not product:
        sys.exit(f"loadbench: no product sources under {PRODUCT_SOURCES} "
                 "(run from the repository root)")
    jars = spark_jars()
    os.makedirs(os.path.join(BUILD_DIR, "logs"), exist_ok=True)
    log = os.path.join(BUILD_DIR, "logs", "build.log")
    spark_cp = os.path.join(jars, "*")
    prod_out, prod_digest = compile_tree(
        "product-classes", product, spark_cp, "", jars, log)
    bench_out, _ = compile_tree(
        "loadbench-classes", scala_sources(os.path.join(HERE, "src")),
        os.pathsep.join([prod_out, spark_cp]), prod_digest, jars, log)
    return os.pathsep.join([bench_out, prod_out,
                            os.path.abspath(PRODUCT_RESOURCES), spark_cp])


if __name__ == "__main__":
    print(build())

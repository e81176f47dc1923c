"""Build file of the benchmark: compiles the program and the benchmark's
JVM harness from source with the Scala compiler that ships in Spark's
jars (`$SPARK_HOME/jars`), into `.bench_build/program-classes` and `.bench_build/harness-classes`
of the checkout.

A stamp of the sources' content is kept beside each class directory; a
build is skipped when its stamp matches. Run it alone with
`python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        sys.exit(f"perfbench: no program sources under {os.path.join(root, 'src', 'main', 'scala')}")
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return program, harness


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "-classpath", classpath] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"perfbench: compilation failed ({len(files)} files)")


def _compiled(out, files, jars, classpath, depends=""):
    """Compiles `files` into `out` unless the stamp of their content and
    of `depends` is unchanged."""
    stamp_file = out + ".stamp"
    stamp = _stamp(files, depends)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    _scalac(jars, out, classpath, files)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build(root):
    """Builds the program, then the harness against it; returns the
    classpath of both plus Spark's jars."""
    jars = spark_jars()
    program, harness = sources(root)
    base = os.path.join(root, ".bench_build")
    spark_cp = os.path.join(jars, "*")
    program_out = os.path.join(base, "program-classes")
    harness_out = os.path.join(base, "harness-classes")
    _compiled(program_out, program, jars, spark_cp)
    _compiled(harness_out, harness, jars, program_out + os.pathsep + spark_cp,
              depends=open(program_out + ".stamp").read())
    return os.pathsep.join([harness_out, program_out, spark_cp])


if __name__ == "__main__":
    print(build(os.getcwd()))

"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory and packs each into a jar. The build is skipped when a stamp
of every source file, the jar directory listing and the Java executable
matches the previous build.

Run on its own with `python3 perfbench/build.py` from the repository
root; `perfbench/run.py` calls it before every run.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME or PATH")
    return exe


def harness_command(classpath, work, args):
    """The JVM command line of one harness process (Spark on JDK 17
    needs the module opens that spark-submit would add)."""
    cmd = [java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main", "--work", work] + args
    return cmd


def _sources(root, rel):
    return sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"), recursive=True))


def _stamp(root, files, jars, java_exe):
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(java_exe.encode())
    return h.hexdigest()


def _scalac(java_exe, jars, classpath, jar_path, files, build_dir):
    compiler = [glob.glob(os.path.join(jars, f"scala-{part}-2.13*.jar"))
                for part in ("library", "compiler", "reflect")]
    if not all(compiler):
        raise BuildError("Scala 2.13 compiler jars not found in " + jars)
    out = os.path.join(build_dir, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = [java_exe, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}", "-cp",
           os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-cp", classpath, "-d", out] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with zipfile.ZipFile(jar_path, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in sorted(os.walk(out)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, out))
    shutil.rmtree(out)


def build(root, out_dir):
    """Builds if needed; returns the harness classpath."""
    main_src = _sources(root, os.path.join("src", "main", "scala"))
    bench_src = _sources(root, os.path.join("perfbench", "src"))
    if not main_src:
        raise BuildError("no program sources under src/main/scala")
    if not bench_src:
        raise BuildError("no harness sources under perfbench/src")
    jars = spark_jars()
    java_exe = java()
    main_jar = os.path.join(out_dir, "program.jar")
    bench_jar = os.path.join(out_dir, "perfbench.jar")
    stamp_file = os.path.join(out_dir, "stamp")
    stamp = _stamp(root, main_src + bench_src, jars, java_exe)
    jar_cp = os.path.join(jars, "*")
    classpath = os.pathsep.join([main_jar, bench_jar, jar_cp])
    fresh = (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
             and os.path.exists(main_jar) and os.path.exists(bench_jar))
    if not fresh:
        os.makedirs(out_dir, exist_ok=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        print("perfbench: compiling the program and the harness", file=sys.stderr)
        _scalac(java_exe, jars, jar_cp, main_jar, main_src, out_dir)
        _scalac(java_exe, jars, os.pathsep.join([jar_cp, main_jar]), bench_jar, bench_src, out_dir)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classpath


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        print(build(root, out))
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)

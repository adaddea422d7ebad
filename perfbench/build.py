"""Build file of the benchmark: compiles the program's main sources and the
harness with the Scala 2.13 compiler that ships in the Spark distribution,
against the Spark jars, into `.bench_build/` of the checkout. No build tool
and no network are involved, and the repository's own build is not touched.
A build is reused while no source file has changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess

SPARK_JARS = "/opt/spark/jars"


def _sources(root, sub):
    return sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(out, classpath, files, tmp):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main", "-nowarn",
         "-classpath", classpath, "-d", out] + files,
        check=True, timeout=840, stdout=subprocess.DEVNULL)


def build(root):
    """Compile what changed; return the classpath the harness runs with."""
    prog_src = _sources(root, "src/main/scala")
    harn_src = _sources(root, "perfbench/harness")
    if not prog_src:
        raise SystemExit("no program sources under src/main/scala: run from a repository checkout")
    build_dir = os.path.join(root, ".bench_build")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    program = os.path.join(build_dir, "classes")
    harness = os.path.join(build_dir, "harness")
    prog_stamp = _stamp(prog_src)
    harn_stamp = _stamp(harn_src) + prog_stamp
    for out, files, stamp, cp in [
            (program, prog_src, prog_stamp, spark_cp),
            (harness, harn_src, harn_stamp, f"{program}:{spark_cp}")]:
        stamp_file = out + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        _scalac(out, cp, files, tmp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return f"{harness}:{program}:{spark_cp}"

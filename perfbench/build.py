#!/usr/bin/env python3
"""Builds the program under test and the benchmark harness from source.

The program is `src/main/scala` of the checkout, compiled with the Scala
compiler that ships in Spark's jar directory (Scala 2.13, the version
build.sbt names), against the same jars build.sbt puts on its class path.
The harness is `perfbench/src`, compiled against the program. Outputs go
to `$CARGO_TARGET_DIR` if set, else `.bench_build/`, under a directory
named by the hash of every input, so an unchanged tree is never rebuilt.

One source edit is made on the build copy only: `engine.Scratch` hard-codes
its scratch root, and the copy reads that root from the system property
`graft.scratch.root` (falling back to the same literal) so that each run's
scratch files stay inside the run directory. The harness refuses to run if
the scratch root does not resolve there.

Usage: python3 perfbench/build.py   (prints the class path)
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main"
HARNESS_SRC = HERE / "src"
SCRATCH_LITERAL = 's"/tmp/graft_scratch/'
SCRATCH_ROOT = 's"${sys.props.getOrElse("graft.scratch.root", "/tmp/graft_scratch")}/'


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME")
    return pathlib.Path(home) / "jars"


def files_under(d, suffix=""):
    return sorted(p for p in d.rglob("*") if p.is_file() and p.name.endswith(suffix))


def code_fingerprint():
    """Hash of the contents of src/main/** and build.sbt."""
    h = hashlib.sha256()
    for p in files_under(PROGRAM_SRC) + [ROOT / "build.sbt"]:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def build_root():
    return pathlib.Path(os.environ.get("CARGO_TARGET_DIR") or ROOT / ".bench_build").resolve()


def scalac(jars, out, classpath, sources):
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-cp", os.pathsep.join(classpath)] + [str(s) for s in sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Returns the run-time class path, building first if needed."""
    if not (PROGRAM_SRC / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        raise BuildError(f"program sources not found under {ROOT}")
    jars = spark_jars()
    h = hashlib.sha256(code_fingerprint().encode())
    for p in files_under(HARNESS_SRC) + [pathlib.Path(__file__).resolve()]:
        h.update(p.read_bytes())
    h.update(str(jars).encode())
    out = build_root() / ("classes-" + h.hexdigest()[:16])
    program, harness = out / "program", out / "harness"
    if not (out / "ok").exists():
        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        src = tmp / "src"
        shutil.copytree(PROGRAM_SRC / "scala", src)
        for f in files_under(src, ".scala"):
            text = f.read_text()
            if SCRATCH_LITERAL in text:
                f.write_text(text.replace(SCRATCH_LITERAL, SCRATCH_ROOT))
        scalac(jars, tmp / "program", [str(jars / "*")], files_under(src, ".scala"))
        scalac(jars, tmp / "harness", [str(tmp / "program"), str(jars / "*")],
               files_under(HARNESS_SRC, ".scala"))
        shutil.rmtree(src)
        (tmp / "ok").touch()
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    return [str(harness), str(program), str(jars / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)

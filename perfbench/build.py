"""Build file of the benchmark package.

Compiles graft's main sources together with perfbench/src/main with the
Scala compiler that ships in the Spark distribution (no sbt, no downloads),
into .bench_build/classes-<hash of the sources>. A build whose sources are
unchanged is reused.

    python3 perfbench/build.py          # build
    python3 perfbench/build.py --test   # build and run the benchmark's own tests
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"

JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    one whose bin/ directory is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        found = sorted((Path(home) / "jars").glob("*.jar"))
        if any(j.name.startswith("scala-compiler") for j in found):
            return found
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def _sources(*dirs):
    out = []
    for d in dirs:
        out += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return out


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _compile(sources, classpath, out):
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "sources.txt"
    args.write_text("\n".join(str(s) for s in sources))
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(map(str, jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", ":".join(map(str, jars + classpath)), f"@{args}"]
    r = subprocess.run(cmd, cwd=ROOT)
    args.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    tmp.rename(out)


def build():
    """Returns the classpath entries (classes dir, resources dir)."""
    main = ROOT / "src" / "main"
    graft = _sources(main / "scala")
    if not graft:
        raise BuildError(f"graft sources not found under {main / 'scala'}")
    resources = main / "resources"
    sources = graft + _sources(BENCH / "src" / "main")
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    out = BUILD / f"classes-{_digest(sources + res)}"
    if not out.is_dir():
        BUILD.mkdir(exist_ok=True)
        print(f"perfbench: compiling {len(sources)} sources into {out}", file=sys.stderr)
        _compile(sources, [], out)
    return [out, resources]


def build_tests(main_cp):
    sources = _sources(BENCH / "src" / "test")
    out = BUILD / f"test-classes-{_digest(sources)}-{main_cp[0].name}"
    if not out.is_dir():
        _compile(sources, main_cp, out)
    return [out] + main_cp


def java_cmd(classpath, main, heap="2g", props=()):
    cp = ":".join([str(j) for j in spark_jars()] + [str(c) for c in classpath])
    return (["java", *JDK17_OPENS, f"-Xmx{heap}", *props, "-cp", cp, main])


if __name__ == "__main__":
    try:
        cp = build()
        if "--test" in sys.argv[1:]:
            sys.exit(subprocess.run(java_cmd(build_tests(cp), "perfbench.SelfTest")).returncode)
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)

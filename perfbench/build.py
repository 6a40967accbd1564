"""Build file of the benchmark package: compiles graft's main sources
together with the benchmark client (perfbench/harness) into one class
directory, using the Scala compiler that ships among Spark's jars.

The Spark jar directory is the one the root build.sbt names as its
`unmanagedBase`, or $SPARK_HOME/jars. Output goes to
.bench_build/classes-<digest> under the repository root, keyed by a
digest of every source, so a rebuild happens only when code changes.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def spark_jars() -> Path:
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sys.exit("build: no Spark jar directory (root build.sbt unmanagedBase or $SPARK_HOME/jars)")


RESOURCES = ROOT / "src" / "main" / "resources"


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"build: graft sources not found at {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))


def resources() -> list:
    return sorted(f for f in RESOURCES.rglob("*") if f.is_file()) if RESOURCES.is_dir() else []


def build() -> Path:
    """Returns the class directory, compiling it first when missing."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + resources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".done").exists():
        return classes
    tmp = OUT / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    argfile = tmp / "scalac.args"
    argfile.write_text("\n".join(["-nowarn", "-d", str(tmp), "-classpath", cp] +
                                 [str(f) for f in srcs]))
    try:
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
                            "scala.tools.nsc.Main", f"@{argfile}"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            sys.exit("build: compilation failed")
        argfile.unlink()
        for f in resources():
            dst = tmp / f.relative_to(RESOURCES)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(f, dst)
        (tmp / ".done").write_text("ok\n")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for old in OUT.glob("classes-*"):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(spark_jars() / "*")])


if __name__ == "__main__":
    print(build())

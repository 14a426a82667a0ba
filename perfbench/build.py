"""Builds graft and the benchmark from source.

Compiles the repository's `src/main/scala` together with the
benchmark's own sources (`perfbench/scala`, `perfbench/test`) with the
Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes-<hash>` under the checkout root. The hash covers
every compiled source, so an unchanged tree is never rebuilt.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit
    on PATH, else the `unmanagedBase` the sbt build declares."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(pathlib.Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(pathlib.Path(submit).resolve().parent.parent / "jars")
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(pathlib.Path(m.group(1)))
    for c in candidates:
        if c.is_dir() and any(c.glob("scala-compiler-*.jar")):
            return c
    raise SystemExit("build: no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (pathlib.Path(home) / "bin" / "java").is_file():
        return str(pathlib.Path(home) / "bin" / "java")
    return shutil.which("java") or "java"


def sources(root):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: {main} not found: run from the root of a graft checkout")
    files = []
    for d in (main, BENCH / "scala", BENCH / "test"):
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def classpath(jars):
    return ":".join(str(j) for j in sorted(jars.glob("*.jar")))


def build(root=None, quiet=False):
    """Compile if needed; returns (classes_dir, source_hash)."""
    root = pathlib.Path(root or os.getcwd()).resolve()
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()[:16]
    out_root = root / ".bench_build"
    out = out_root / f"classes-{digest}"
    if (out / ".ok").is_file():
        return out, digest
    if out_root.is_dir():
        for stale in out_root.glob("classes-*"):
            shutil.rmtree(stale, ignore_errors=True)
    tmp = out_root / f"tmp-{digest}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars(root)
    argfile = out_root / f"sources-{digest}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    if not quiet:
        print(f"build: compiling {len(files)} Scala sources into {out}", file=sys.stderr)
    cp = classpath(jars)
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", str(tmp), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with exit code {proc.returncode}")
    (tmp / ".ok").write_text(digest + "\n")
    tmp.rename(out)
    return out, digest


if __name__ == "__main__":
    print(build()[0])

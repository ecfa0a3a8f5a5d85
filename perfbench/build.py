"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark's own (``perfbench/src``) using the Scala compiler that ships in
Spark's jar directory: the ``unmanagedBase`` the repository's ``build.sbt``
compiles against, or ``$SPARK_HOME/jars``. Output goes to
``.bench_build/classes-<hash>`` in the checkout; a build whose source hash
already has classes is skipped.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_TIMEOUT_S = 700  # with a run's 175 s, a first run stays within 900 s


class BuildError(Exception):
    pass


def sources(root):
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not engine:
        raise BuildError("no engine sources under src/main/scala: run from the root of a checkout")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return engine + bench


def spark_jars(root):
    """The jar directory build.sbt names as unmanagedBase, else $SPARK_HOME/jars."""
    sbt = Path(root) / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m:
        return Path(m.group(1))
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise BuildError("no Spark jar directory: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def classpath(root):
    return f"{spark_jars(root)}/*"


def build(root):
    """Compile if needed; return the classes directory."""
    root = Path(root).resolve()
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    out_root = root / ".bench_build"
    out = out_root / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    if not spark_jars(root).is_dir():
        raise BuildError(f"Spark jars not found at {spark_jars(root)}")
    tmp = out_root / (out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = classpath(root)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac timed out")
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    argfile.unlink()
    for old in out_root.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    (out / ".ok").touch()
    return out


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)

#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine from the checkout's own source tree (src/main, the
same files tools/srctree_hash.sh fingerprints) and then the harness in
lakebench/scala against it, with the Scala compiler that ships among the
Spark jars the repo's build.sbt names. Outputs land in .bench_build/ under
names keyed by the source hash, so a jar is never reused for other code.
A committed dist/graft.jar is never used; its staleness is only reported.

Usage: python3 lakebench/build.py        (prints the build record)
"""
import glob
import hashlib
import json
import os
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"


class BuildError(RuntimeError):
    pass


def spark_jars_dir(root: Path = ROOT) -> Path:
    """SPARK_HOME/jars if set, else the unmanagedBase build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        d = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = root / "build.sbt"
        if not sbt.exists():
            raise BuildError(f"no build.sbt under {root}: not an engine checkout")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase Spark jar directory")
        d = Path(m.group(1))
    if not glob.glob(str(d / "spark-core_*.jar")):
        raise BuildError(f"no Spark jars in {d}")
    return d


def srchash(root: Path = ROOT) -> str:
    tool = root / "tools" / "srctree_hash.sh"
    if not tool.exists() or not (root / "src" / "main").is_dir():
        raise BuildError(f"no engine source tree under {root}")
    return subprocess.run(["bash", str(tool)], check=True, capture_output=True,
                          text=True).stdout.strip()


def _scalac(jars: Path, classpath: list, sources: list, dest: Path) -> None:
    tmp = dest.with_suffix(".tmp.jar")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", ":".join(map(str, classpath))] + [str(s) for s in sources]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        tmp.unlink(missing_ok=True)
        raise BuildError(f"scalac failed for {dest.name}:\n{(r.stdout + r.stderr)[-4000:]}")
    tmp.replace(dest)


def dist_jar_state(root: Path, live: str) -> str:
    rec = root / "dist" / "graft.jar.srchash"
    if not (root / "dist" / "graft.jar").exists():
        return "absent"
    if not rec.exists() or rec.read_text().strip() != live:
        return "stale (refused)"
    return "fresh (unused)"


def ensure(root: Path = ROOT) -> dict:
    """Build what is missing; return the jars and the provenance record."""
    jars = spark_jars_dir(root)
    spark_cp = sorted(glob.glob(str(jars / "*.jar")))
    h = srchash(root)
    OUT.mkdir(exist_ok=True)
    engine = OUT / f"engine-{h[:16]}.jar"
    if not engine.exists():
        _scalac(jars, spark_cp, sorted((root / "src" / "main").rglob("*.scala")), engine)
    harness_src = sorted((HERE / "scala").rglob("*.scala"))
    hh = hashlib.sha256(h.encode())
    for s in harness_src:
        hh.update(s.read_bytes())
    harness = OUT / f"harness-{hh.hexdigest()[:16]}.jar"
    if not harness.exists():
        _scalac(jars, spark_cp + [engine], harness_src, harness)
    try:
        commit = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                                capture_output=True, text=True, check=True).stdout.strip()
    except (subprocess.CalledProcessError, FileNotFoundError):
        commit = "unknown (not a git checkout)"
    return {"engine_jar": str(engine), "harness_jar": str(harness),
            "classpath": [str(harness), str(engine), f"{jars}/*"],
            "srchash": h, "git_commit": commit,
            "dist_jar": dist_jar_state(root, h)}


if __name__ == "__main__":
    try:
        print(json.dumps(ensure(), indent=1))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)

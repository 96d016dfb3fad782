"""The standing index the workloads read.

No run resumes a build or writes into an index another run reads.  The
first untraced run in a checkout builds the index once into a private
directory and moves it, complete, to ``.work/index-<key>``; the key hashes
the program's sources, the scale and the parallelism, so any change to them
builds anew.  Every untraced run then opens its own private copy of that
directory, as a server opens an imported index.  Traced runs build and open
a fresh index instead, to time the build stages.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time
from pathlib import Path

from inputs import SCALE

# build order of the checkpointed stages (placex.build_index)
PLACEX_STAGES = ("placex_base", "placex_ranked", "placex_adjusted",
                 "placex_parented", "placex")
TOKEN_STAGES = ("word", "name_postings", "addr_postings", "search_name")
STAGES = PLACEX_STAGES + TOKEN_STAGES


def source_key(root: Path, cpus: int) -> str:
    import pyspark

    h = hashlib.sha256(json.dumps(
        [SCALE, cpus, pyspark.__version__], sort_keys=True).encode())
    pkg = root / "nominatim_spark"
    for f in sorted(p for p in pkg.rglob("*") if p.is_file()
                    and "__pycache__" not in p.parts):
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(spark, ckpt_root: str):
    from nominatim_spark.plans.flagship import build_synth_index

    return build_synth_index(spark, ckpt_root=ckpt_root, **SCALE)


def ensure_cached(spark, work: Path, key: str) -> tuple[Path, float | None]:
    """Path of the complete cached build; builds it when absent and then
    also returns the build's wall seconds."""
    final = work / f"index-{key}"
    if (final / STAGES[-1] / "_manifest.json").exists():
        return final, None
    tmp = Path(tempfile.mkdtemp(prefix="index-build-", dir=work))
    t0 = time.perf_counter()
    build(spark, str(tmp))
    secs = time.perf_counter() - t0
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp)
    return final, secs


def open_copy(spark, cached: Path, run_dir: Path):
    """Copy the cached build into the run's own directory, load it as the
    CLI serves a standing index (placex.load_index) and materialize every
    table the workloads read."""
    from nominatim_spark.pipeline.placex import load_index

    dst = Path(tempfile.mkdtemp(prefix="index-", dir=run_dir))
    shutil.copytree(cached, dst, dirs_exist_ok=True)
    idx = load_index(spark, str(dst))
    for df in (idx.placex, idx.search_name, idx.word, idx.name_postings,
               idx.addr_postings):
        df.persist().count()
    return idx


def parquet_bytes(root: Path, stage: str | None = None) -> int:
    """Bytes of the parquet data files (no manifests, no checksums)."""
    base = root / stage if stage else root
    return sum(f.stat().st_size for f in base.rglob("*.parquet"))


def manifest(root: Path, stage: str) -> dict:
    with open(root / stage / "_manifest.json") as fh:
        return json.load(fh)


def stage_seconds(root: Path, t_start: float) -> dict[str, float]:
    """Each stage's time: the step between consecutive stage-clock values
    (``time.monotonic``) the build wrote into its manifests; the first
    stage counts from ``t_start`` on the same clock."""
    out, prev = {}, t_start
    for stage in STAGES:
        clock = manifest(root, stage)["written_at_stage_clock"]
        out[stage] = clock - prev
        prev = clock
    return out

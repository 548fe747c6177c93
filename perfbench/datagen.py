"""Benchmark inputs.

The base tables are the engine's fixed test data: the read-only
``sf0.001``, ``sf0.01`` and ``sf0.1`` directories beside
``catalog.DEFAULT_SF_DIR``, which ``bench.py``, the DuckDB oracles and
the tests read too. The benchmark reads them and never writes there.

The 10x "sf1" set is built from a base set with the unedited
``scripts/gen_scale_data.py`` function ``replicate_relational``: it
copies region and nation and replicates the relational tables with
per-replica key offsets, so every value distribution of the base is
kept. No sf1 workload reads documents or embeddings, so those are not
scaled. The generator takes no seed, so the set is the same for every
``--seed``; the seed drives only the op order and the load batches.

A generated set lives under ``.perfbench_data/`` (gitignored), in a
directory named after the scale and a hash of the base files and both
generator sources, so it is reused only while they are unchanged; a new
set replaces older ones of its scale. It is generated in a child
process, so its memory stays out of the run.

    python3 perfbench/datagen.py BASE_DIR OUT_DIR REPLICAS
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_ROOT = os.path.join(ROOT, ".perfbench_data")
GEN_SCALE = os.path.join(ROOT, "scripts", "gen_scale_data.py")


def base_dir(sf: float) -> str:
    """The engine's fixed test data at scale ``sf``."""
    from dwh_with_dask_spark import catalog

    path = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), f"sf{sf:g}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no test data at scale {sf:g}: {path} is missing")
    return path


def _tag(base: str) -> str:
    h = hashlib.sha256(base.encode())
    for name in sorted(os.listdir(base)):
        h.update(f"{name}:{os.path.getsize(os.path.join(base, name))}".encode())
    for p in (__file__, GEN_SCALE):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_data(sf: float, replicas: int = 1) -> tuple[str, float]:
    """Directory holding the tables at base scale ``sf`` replicated
    ``replicas`` times; returns it with the seconds spent generating
    (0 when the base is used as is or an earlier set was reused)."""
    base = base_dir(sf)
    if replicas == 1:
        return base, 0.0
    prefix = f"sf{sf:g}x{replicas}-"
    out = os.path.join(DATA_ROOT, prefix + _tag(base))
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, 0.0
    t0 = time.perf_counter()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    subprocess.run([sys.executable, os.path.abspath(__file__), base, tmp, str(replicas)],
                   check=True, stdout=sys.stderr)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    for old in os.listdir(DATA_ROOT):  # sets of this scale from older generators
        if old.startswith(prefix) and os.path.join(DATA_ROOT, old) != out:
            shutil.rmtree(os.path.join(DATA_ROOT, old), ignore_errors=True)
    return out, time.perf_counter() - t0


def main(base: str, out: str, replicas: str) -> None:
    spec = importlib.util.spec_from_file_location("gen_scale_data", GEN_SCALE)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.replicate_relational(base, out, int(replicas))


if __name__ == "__main__":
    main(*sys.argv[1:])

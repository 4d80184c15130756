"""Benchmark inputs.

Base tables come from the repository's own fixture generator,
tools/gen_testdata.py, which is deterministic: the same tables at every
seed. At scale factor 0.1 that is 600,000 lineitem rows and 100,000 events
over 30 days. They are written once per checkout (per generator version)
and reused. Everything a workload's seed decides (which lineitem rows the
incremental target already holds, the cron start hour, the query order) is
derived here or in run.py from `--seed`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Tables whose scans the workloads measure: each must be one row group, so
# that a scan runs as one task whatever the writer's default group size.
SINGLE_GROUP = ("lineitem", "events")


def ensure_base(root, repo, sf):
    """Return the base-table directory for `sf` under `root`, generating it
    once with `repo`/tools/gen_testdata.py."""
    gen = os.path.join(repo, "tools", "gen_testdata.py")
    with open(gen, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(root, f"fixtures-{version}-sf{sf}")
    done = os.path.join(out, "DONE")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, gen, out, str(sf)], check=True,
                   stdout=subprocess.DEVNULL, timeout=600)
    for name in SINGLE_GROUP:
        path = os.path.join(out, f"{name}.parquet")
        if pq.ParquetFile(path).metadata.num_row_groups != 1:
            t = pq.read_table(path)
            pq.write_table(t, path + ".tmp", row_group_size=max(t.num_rows, 1))
            os.replace(path + ".tmp", path)
    with open(done, "w") as fh:
        fh.write(version + "\n")
    return out


def stage_incremental_target(base, path, seed, keep=0.95):
    """Write the rows of lineitem a seed-chosen Bernoulli(`keep`) sample
    keeps, as the incremental target's initial single file. Timestamps
    are written UTC-adjusted, the encoding the engine's own appends use,
    so every file of the target directory has one schema. Returns the
    number of rows kept."""
    t = pq.read_table(os.path.join(base, "lineitem.parquet"))
    mask = np.random.default_rng([seed, 1]).random(t.num_rows) < keep
    kept = t.filter(pa.array(mask))
    i = kept.schema.get_field_index("l_shipdate")
    kept = kept.set_column(i, "l_shipdate",
                           kept.column(i).cast(pa.timestamp("us", tz="UTC")))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(kept, path, row_group_size=max(kept.num_rows, 1))
    return kept.num_rows

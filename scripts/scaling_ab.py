"""A/B harness for the N-vs-4N scaling number (BASELINE.md methodology).

Generates the bench WAL(s) once in tmpfs, then runs pinned apply
subprocesses (bench.py `_apply` mode) for each (config, cores) cell,
INTERLEAVED so host-window drift hits all configs symmetrically.
Prints one JSON line per completed cell and a final summary table.

Usage: python scripts/scaling_ab.py [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRATCH = os.environ.get("AB_SCRATCH", "/dev/shm/spark_graft_ab")
EVENTS = int(os.environ.get("AB_EVENTS", "6000000"))
URLS = int(os.environ.get("AB_URLS", "1200000"))
REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 2
BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")

#: name -> env overrides. BENCH_WAL_NAME picks which WAL the apply reads.
CONFIGS: dict[str, dict[str, str]] = {
    "base": {"BENCH_WAL_NAME": "wal_snappy", "BENCH_CODEC": "snappy"},
    "zstd": {"BENCH_WAL_NAME": "wal_zstd", "BENCH_CODEC": "zstd"},
    "bigbatch": {
        "BENCH_WAL_NAME": "wal_snappy",
        "BENCH_CODEC": "snappy",
        "BENCH_EXTRA_CONF": (
            "spark.sql.parquet.columnarReaderBatchSize=16384;"
            "spark.sql.execution.arrow.maxRecordsPerBatch=40000"
        ),
    },
}


def gen_wal(codec: str, name: str) -> None:
    path = os.path.join(SCRATCH, name)
    if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
        return
    env = dict(os.environ, BENCH_CODEC=codec)
    code = f"""
import sys; sys.path.insert(0, {os.path.dirname(BENCH)!r})
from bench import make_spark
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal
spark = make_spark(32, "ab-walgen", {os.path.join(SCRATCH, 'spark_local')!r})
write_wal(gen_wal(spark, WalConfig(n_events={EVENTS}, n_urls={URLS}, hot_frac=0.05)),
          {path!r}, n_files=128)
spark.stop()
"""
    subprocess.run([sys.executable, "-c", code], env=env, check=True,
                   capture_output=True, text=True)


def apply_run(cores: int, tag: str, env_over: dict[str, str]) -> float:
    cmd = ["taskset", "-c", f"0-{cores - 1}" if cores > 1 else "0",
           sys.executable, BENCH, "_apply", str(cores), SCRATCH, tag]
    env = dict(os.environ, BENCH_CDC_EVENTS=str(EVENTS), **env_over)
    p = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in p.stdout.splitlines():
        if line.startswith("APPLY_SECONDS"):
            return float(line.split()[1])
    raise RuntimeError(f"apply failed [{tag}]: {p.stderr[-1500:]}")


def main() -> None:
    os.makedirs(SCRATCH, exist_ok=True)
    gen_wal("snappy", "wal_snappy")
    gen_wal("zstd", "wal_zstd")
    results: dict[str, dict[int, list[float]]] = {
        n: {1: [], 4: []} for n in CONFIGS
    }
    for rep in range(REPS):
        for name, env_over in CONFIGS.items():
            for cores in (1, 4):
                t = apply_run(cores, f"{name}_{cores}_{rep}", env_over)
                results[name][cores].append(round(t, 2))
                print(json.dumps({"config": name, "cores": cores, "rep": rep,
                                  "sec": round(t, 2)}), flush=True)
    print("\n=== summary (best-of) ===")
    for name, r in results.items():
        b1, b4 = min(r[1]), min(r[4])
        eff = b1 / b4 / 4
        print(f"{name:16s} n1={b1:7.1f}s n4={b4:6.1f}s eff={eff:.3f} "
              f"raw1={r[1]} raw4={r[4]}")


if __name__ == "__main__":
    main()

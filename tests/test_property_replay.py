"""Property-based replay equivalence (hypothesis over the knob space).

One property, many configurations: for ANY (op mix, out-of-order rate,
hot-key skew, epoch size, LWW plan), consuming the WAL must
leave the table byte-equal to the single-threaded pandas oracle. This is
the north rule's contract quantified over the configuration space rather
than hand-picked cases.
"""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ethereum_etl_spark.oracle import expected_final_state
from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal

KNOBS = st.fixed_dictionaries(
    {
        "seed": st.integers(0, 2**31 - 1),
        "insert_frac": st.floats(0.2, 0.7),
        "update_frac": st.floats(0.1, 0.3),
        "ooo_frac": st.floats(0.0, 0.6),
        "hot_frac": st.floats(0.0, 0.5),
        "n_hot_urls": st.integers(1, 3),
        "epoch_size": st.sampled_from([400, 700, 1500, 5000]),
        "lww_method": st.sampled_from(["agg", "salted", "auto"]),
    }
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(knobs=KNOBS)
def test_replay_equals_oracle_for_any_config(spark, tmp_path_factory, knobs):
    tmp = tmp_path_factory.mktemp("prop")
    wal_path = str(tmp / "wal")
    cfg = WalConfig(
        n_events=1_500,
        n_urls=300,
        seed=knobs["seed"],
        insert_frac=knobs["insert_frac"],
        update_frac=knobs["update_frac"],
        ooo_frac=knobs["ooo_frac"],
        hot_frac=knobs["hot_frac"],
        n_hot_urls=knobs["n_hot_urls"],
    )
    write_wal(gen_wal(spark, cfg), wal_path, n_files=3)

    eng = CDCEngine(
        spark,
        wal_path,
        str(tmp / "table"),
        config=EngineConfig(
            epoch_size=knobs["epoch_size"],
            n_buckets=4,
            lww_method=knobs["lww_method"],
            n_salt=4,
            skew_min_events=500,
            compact_max_deltas=2,
        ),
    )
    eng.run()

    got = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    got["html"] = got["html"].map(lambda b: bytes(b) if b is not None else None)
    exp = expected_final_state(spark.read.parquet(wal_path).toPandas()).reset_index(
        drop=True
    )
    pd.testing.assert_frame_equal(
        got[["url", "warc_ts", "seq", "html", "text"]], exp, check_dtype=False
    )

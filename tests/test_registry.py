"""Registry + driver-contract smoke tests (the round-1 failure mode:
a wired-looking repo whose registry ImportError'd and whose entry() was a
stub — VERDICT.md 'What's wrong' #1/#2)."""

import __spark_entry__ as entrymod
from spark_kafka_realm_time_data_pipeline_spark.queries import registry

from conftest import SF_DIR


def test_registry_assembles():
    reg = registry()
    assert len(reg) >= 60
    for name, spec in reg.items():
        assert callable(spec.fn), name
        assert spec.oracle is None or isinstance(spec.oracle, str), name


def test_driver_contract_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # the vast majority of queries must carry a value oracle
    assert len(oracles) >= 0.9 * len(qs)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["customer", "score", "email", "birthYear"]
    assert df.count() > 0


def test_streaming_family_registered():
    qs = entrymod.queries()
    for name in (
        "streaming_stedi_join",
        "streaming_stedi_unbounded",
        "streaming_window_tumbling",
        "streaming_window_sliding",
        "streaming_late_window",
        "streaming_session_window",
        "streaming_dedup",
        "streaming_dedup_watermark",
    ):
        assert name in qs, name

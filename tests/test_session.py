"""session.scoped_conf: confs set for a block, then put back as they were."""

import pytest

from spark_kafka_realm_time_data_pipeline_spark.session import scoped_conf

SET_KEY = "spark.sql.adaptive.enabled"  # set by the session's posture
UNSET_KEY = "spark.graft.test.scopedConfProbe"  # set by nothing else


@pytest.mark.parametrize("raises", [False, True])
def test_scoped_conf_restores_set_and_unsets_unset(spark, raises):
    before = spark.conf.get(SET_KEY)
    assert spark.conf.get(UNSET_KEY, None) is None

    class Boom(Exception):
        pass

    with pytest.raises(Boom) if raises else _no_error():
        with scoped_conf(spark, **{SET_KEY: "false", UNSET_KEY: "1m"}):
            assert spark.conf.get(SET_KEY) == "false"
            assert spark.conf.get(UNSET_KEY, None) == "1m"
            if raises:
                raise Boom
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


class _no_error:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

import base64
import json
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = "/root/testdata/sf0.001"

# session.scoped_conf(spark, **NO_AUTO_BROADCAST): plan joins without
# statistics-driven broadcasts, as a fact-fact join at scale would be
NO_AUTO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def make_envelope(customer_doc: dict | str, key: str = "Customer") -> str:
    """The Redis CDC envelope exactly as Kafka Connect emits it
    (Guide.ipynb cell 2 / FIXTURES.md §1) — shared by the codec and
    streaming test suites so both always test the same wire shape."""
    doc = customer_doc if isinstance(customer_doc, str) else json.dumps(customer_doc)
    return json.dumps(
        {
            "key": base64.b64encode(key.encode()).decode(),
            "existType": "NONE",
            "Ch": False,
            "Incr": False,
            "zSetEntries": [
                {"element": base64.b64encode(doc.encode()).decode(), "score": "0.0"}
            ],
        }
    )


@pytest.fixture(scope="session")
def spark():
    from spark_kafka_realm_time_data_pipeline_spark.session import get_spark

    return get_spark(app_name="engine-tests", cpus=4)

"""Session settings that plan construction depends on.

PySpark's DataFrame call-site capture costs several py4j round trips per
``Column`` call, and ``get_spark`` switches it off. The round-trip budget
guards the other half of a cheap plan build: with capture off, a MinHash
builder that goes back to one ``Column`` object per hash function takes
about 2,800 round trips and fails it.
"""

from __future__ import annotations

import os

import pytest

from db_writer_redshift_spark import plans

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# dedup_minhash_lsh's warm build takes about 650 round trips with call-site
# capture off and the signature as one aggregate expression; it took about
# 7,600 with capture on and one Column per hash function.
MINHASH_BUILD_ROUND_TRIP_BUDGET = 1500


def test_get_spark_turns_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_configure_existing_warns_on_a_rejected_conf_and_sets_the_rest(caplog):
    from db_writer_redshift_spark.session import configure_existing

    class StubSession:
        def __init__(self, rejected=None):
            self.values = {}
            self.conf = self
            self.rejected = rejected

        def set(self, key, value):
            if key == self.rejected:
                raise RuntimeError("immutable in this deployment")
            self.values[key] = value

    wanted = configure_existing(StubSession()).values
    rejected = "spark.sql.adaptive.enabled"
    assert rejected in wanted
    stub = StubSession(rejected)
    with caplog.at_level("WARNING", logger="db_writer_redshift_spark.session"):
        assert configure_existing(stub) is stub
    assert stub.values == {k: v for k, v in wanted.items() if k != rejected}
    assert len(caplog.records) == 1
    assert rejected in caplog.text and "RuntimeError" in caplog.text


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"testdata missing: {SF_DIR}")
def test_minhash_lsh_build_stays_under_round_trip_budget(spark, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    build = plans.QUERIES["dedup_minhash_lsh"].fn
    build(spark, SF_DIR)  # warm: schema cache, JVM class loading

    round_trips = 0
    send = ClientServerConnection.send_command

    def counting_send(self, *args, **kwargs):
        nonlocal round_trips
        round_trips += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    build(spark, SF_DIR)
    monkeypatch.undo()
    assert 0 < round_trips < MINHASH_BUILD_ROUND_TRIP_BUDGET, round_trips

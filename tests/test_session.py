"""Session conventions: ``prepare_session`` reports every conf a session
refuses; ``get_spark`` sessions build plans without per-call call-site
capture."""

from __future__ import annotations

import gc
import os
import tempfile
import threading
import warnings

from py4j.java_gateway import GatewayClient

from pulsar_cdc_experiment_spark.pipeline import CdcPipeline
from pulsar_cdc_experiment_spark.session import RUNTIME_CONF, prepare_session

from .fixtures_cdc import sample_json_lines


class _Conf:
    def __init__(self, refuse: set):
        self.refuse = refuse
        self.values: dict = {}

    def set(self, key, value):
        if key in self.refuse:
            raise RuntimeError(f"cannot modify the value of {key}")
        self.values[key] = value


class _Session:
    def __init__(self, refuse: set):
        self.conf = _Conf(refuse)


def test_prepare_session_warns_once_per_refused_conf():
    refused = ["spark.sql.ansi.enabled", "spark.sql.adaptive.enabled"]
    spark = _Session(set(refused))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert prepare_session(spark) is spark
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert len(msgs) == len(refused)
    for key, msg in zip(sorted(refused), sorted(msgs)):
        assert key in msg and f"cannot modify the value of {key}" in msg
    # every other conf is still applied
    assert spark.conf.values == {
        k: v for k, v in RUNTIME_CONF.items() if k not in refused
    }


def test_prepare_session_is_silent_when_every_conf_sets():
    spark = _Session(set())
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        prepare_session(spark)
    assert not [w for w in caught if w.category is RuntimeWarning]
    assert spark.conf.values == RUNTIME_CONF


def test_get_spark_turns_off_call_site_capture(spark):
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )


def _drain_py4j_deletes(spark):
    """Return once py4j's finalizer thread has sent every proxy delete
    queued so far: the thread sends them in queue order, so a marker
    queued last runs after all of them."""
    pending = getattr(
        spark.sparkContext._gateway._gateway_client, "finalizer_deque", None
    )
    if pending is None:  # unpinned gateway: deletes go out inline
        return
    sent = threading.Event()

    class _Marker:
        def garbage_collect_object(self, target_id, enqueue=True):
            sent.set()

    pending.appendleft((_Marker(), None))
    assert sent.wait(30), "py4j finalizer thread did not drain"


def test_enriched_json_plan_round_trip_budget(spark, monkeypatch):
    """Building the enrichment plan of a small feed stays within 500 py4j
    round trips; with call-site capture on it makes about 1,800."""
    feed = tempfile.mkdtemp(prefix="cdc_rt_feed_")
    with open(os.path.join(feed, "000.jsonl"), "w") as f:
        f.write("\n".join(sample_json_lines()))
    pipe = CdcPipeline({"source": {"path": feed}})
    calls = []
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    # collect earlier tests' garbage first and hold the cycle collector
    # off while counting: freeing an old py4j proxy sends a command too.
    # The deletes it queues go out from py4j's finalizer thread, so wait
    # them out before counting; after planning, wait out the deletes of
    # the proxies planning itself freed, so they are counted every time
    gc.collect()
    gc.disable()
    try:
        _drain_py4j_deletes(spark)
        monkeypatch.setattr(GatewayClient, "send_command", counted)
        pipe.enriched_json(spark, streaming=False)
        _drain_py4j_deletes(spark)
    finally:
        monkeypatch.undo()
        gc.enable()
    assert 0 < len(calls) <= 500, len(calls)

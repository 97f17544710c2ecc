"""``prepare_session`` reports every conf a session refuses."""

from __future__ import annotations

import warnings

from pulsar_cdc_experiment_spark.session import RUNTIME_CONF, prepare_session


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

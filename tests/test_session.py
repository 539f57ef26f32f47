"""apply_engine_confs: static confs are skipped, and an application is
marked configured only once every modifiable conf was set."""

from __future__ import annotations

from types import SimpleNamespace

from social_media_data_pipeline_recession_political_sentiment_spark import session


class _Conf:
    def __init__(self, static=(), fail_once=()):
        self.values: dict = {}
        self.static = set(static)
        self.fail_once = set(fail_once)

    def isModifiable(self, key):
        return key not in self.static

    def set(self, key, value):
        assert key not in self.static, key
        if key in self.fail_once:
            self.fail_once.discard(key)
            raise RuntimeError(f"cannot set {key}")
        self.values[key] = value


def _session(app, conf):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app), conf=conf)


def test_failed_conf_set_is_retried_on_the_next_call():
    keys = list(session.ENGINE_CONFS)
    conf = _Conf(static=[keys[0]], fail_once=[keys[1]])
    spark = _session("app-conf-retry", conf)
    try:
        session.apply_engine_confs(spark)
        assert keys[0] not in conf.values  # static: never set
        assert keys[1] not in conf.values
        assert "app-conf-retry" not in session._CONFS_APPLIED
        session.apply_engine_confs(spark)  # retries, and now succeeds
        assert conf.values[keys[1]] == session.ENGINE_CONFS[keys[1]]
        assert "app-conf-retry" in session._CONFS_APPLIED
        conf.values.clear()
        session.apply_engine_confs(spark)  # configured: no more sets
        assert conf.values == {}
    finally:
        session._CONFS_APPLIED.discard("app-conf-retry")

"""Retry-executor tests (E-1 parity: 3 attempts, quadratic backoff,
UserExceptions and ApplicationExceptions never retried)."""

from __future__ import annotations

import pytest

from db_writer_redshift_spark.config.errors import ApplicationException, UserException
from db_writer_redshift_spark.operators.retry import run_with_retry


def test_succeeds_after_transient_failures():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert run_with_retry(flaky, sleep=sleeps.append) == "ok"
    assert calls["n"] == 3
    assert sleeps == [1, 4]  # sleep(tries**2), Redshift.php:251


def test_default_backoff_is_time_sleep_looked_up_at_call_time(monkeypatch):
    """Patching ``time.sleep`` replaces the 1 s / 4 s backoff: the default
    is not bound when the module is imported."""
    import time

    sleeps: list[float] = []
    monkeypatch.setattr(time, "sleep", sleeps.append)
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    t0 = time.perf_counter()
    assert run_with_retry(flaky) == "ok"
    assert sleeps == [1, 4]
    assert time.perf_counter() - t0 < 1.0


def test_exhaustion_reraises_last_error():
    def always():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        run_with_retry(always, sleep=lambda _: None)


def test_user_exception_never_retries():
    calls = {"n": 0}

    def bad_config():
        calls["n"] += 1
        raise UserException("bad column")

    with pytest.raises(UserException):
        run_with_retry(bad_config, sleep=lambda _: None)
    assert calls["n"] == 1


def test_application_exception_never_retries():
    """A half-finished table swap must not be retried: the retry would
    find no target and rebuild it from the increment alone."""
    calls = {"n": 0}

    def half_swapped():
        calls["n"] += 1
        raise ApplicationException('new contents kept in "t_temp_1"')

    with pytest.raises(ApplicationException):
        run_with_retry(half_swapped, sleep=lambda _: None)
    assert calls["n"] == 1

"""The stream drive loop retries exactly the transient Python-worker
spawn timeout and re-raises everything else unchanged (r12 hardening:
one opening-bench run died in PythonStreamingSourceRunner.init on the
JVM's hard-coded 10 s connect-back window under co-tenant load)."""

import pytest

from aws_datalake_framework_api_spark.streaming.drive import (
    run_stream_to_completion,
)

_TRANSIENT_MSG = (
    "[STREAM_FAILED] Query terminated with exception: "
    "Python worker failed to connect back. SQLSTATE: XXKST"
)


def _no_sleep(monkeypatch):
    monkeypatch.setattr(
        "aws_datalake_framework_api_spark.streaming.drive.time.sleep",
        lambda _s: None,
    )


class _Query:
    def __init__(self, exc=None):
        self.exc = exc

    def awaitTermination(self):
        if self.exc is not None:
            raise self.exc


def _starter(outcomes, log):
    """start() callable yielding the scripted per-attempt outcomes."""
    it = iter(outcomes)

    def start():
        log.append("start")
        return _Query(next(it))

    return start


def test_transient_failure_is_retried_then_succeeds(monkeypatch):
    _no_sleep(monkeypatch)
    log = []
    with pytest.warns(RuntimeWarning, match="retrying"):
        run_stream_to_completion(
            _starter([RuntimeError(_TRANSIENT_MSG), None], log)
        )
    assert log == ["start", "start"]  # restarted once, then completed


def test_non_transient_failure_raises_on_first_attempt():
    log = []
    with pytest.raises(ValueError, match="schema mismatch"):
        run_stream_to_completion(
            _starter([ValueError("schema mismatch"), None], log)
        )
    assert log == ["start"]  # a real bug never restarts


def test_persistent_transient_failure_raises_after_budget(monkeypatch):
    _no_sleep(monkeypatch)
    log = []
    errs = [RuntimeError(_TRANSIENT_MSG)] * 3
    with pytest.raises(RuntimeError, match="failed to connect back"), \
            pytest.warns(RuntimeWarning, match="retrying"):
        run_stream_to_completion(_starter(errs, log))
    assert log == ["start"] * 3  # bounded: 1 original + 2 retries


def test_transient_failure_raised_by_start_is_retried(monkeypatch):
    """The same spawn timeout can surface synchronously from start()
    (a Python source's schema inference) rather than from
    awaitTermination(); it is retried the same way."""
    _no_sleep(monkeypatch)
    log = []
    outcomes = iter([RuntimeError(_TRANSIENT_MSG), None])

    def start():
        log.append("start")
        exc = next(outcomes)
        if exc is not None:
            raise exc
        return _Query()

    with pytest.warns(RuntimeWarning, match="retrying"):
        run_stream_to_completion(start)
    assert log == ["start", "start"]


def test_each_retry_warns_with_attempt_and_reason(monkeypatch):
    _no_sleep(monkeypatch)
    log = []
    errs = [RuntimeError(_TRANSIENT_MSG)] * 2 + [None]
    with pytest.warns(RuntimeWarning) as record:
        run_stream_to_completion(_starter(errs, log))
    msgs = [str(w.message) for w in record]
    assert len(msgs) == 2
    assert "attempt 1/3" in msgs[0] and "attempt 2/3" in msgs[1]
    assert all("failed to connect back" in m for m in msgs)


@pytest.mark.parametrize("attempts", [0, -1])
def test_attempts_below_one_is_refused(attempts):
    log = []
    with pytest.raises(ValueError, match="attempts must be >= 1"):
        run_stream_to_completion(_starter([None], log), attempts=attempts)
    assert log == []  # never started

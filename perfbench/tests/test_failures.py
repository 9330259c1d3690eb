import time

import pytest

from perfbench import harness
from perfbench.workloads import Workload


class FakeContext:
    def setJobDescription(self, value):
        pass


class FakeSpark:
    sparkContext = FakeContext()

    def stop(self):
        pass


class FlakyWorkload(Workload):
    """Two ops per pass; ``flaky`` raises on its third call."""

    name = "flaky"

    def __init__(self, work):
        super().__init__(0, work)
        self.calls = 0

    def pass_ops(self):
        return ["steady", "flaky"]

    def run(self, spark, op):
        if op == "flaky":
            self.calls += 1
            if self.calls == 3:
                raise RuntimeError("boom")
        time.sleep(0.01)
        return op

    def rows(self, op, result):
        return 1


def test_a_raising_op_counts_as_failed_and_never_shortens_a_pass(tmp_path):
    run = harness.Run(FlakyWorkload(str(tmp_path)), FakeSpark, log=open(tmp_path / "log", "w"))
    run.execute(seconds=0.3, t_start=time.perf_counter())
    assert run.failed == 1
    assert run.layers["failed_frac"] == 1 / run.attempted
    # the pass holding the failure contributes no time: every recorded pass
    # is a whole one, two ops of at least 10 ms each
    passes = run.report["pass_s"]
    assert passes and min(passes) >= 0.02
    assert len(passes) == (run.attempted - 2) // 2 - 1


class WrongOutput(FlakyWorkload):
    def check(self, op, result, op_id):
        if op_id == 4:
            raise AssertionError("wrong rows")


def test_a_failed_check_counts_like_an_exception(tmp_path):
    run = harness.Run(WrongOutput(str(tmp_path)), FakeSpark, log=open(tmp_path / "log", "w"))
    run.execute(seconds=0.2, t_start=time.perf_counter())
    assert run.failed == 2  # the wrong output and the raising call
    assert min(run.report["pass_s"]) >= 0.02


def test_a_stream_op_that_raised_leaves_nothing_for_the_next_check():
    from types import SimpleNamespace as NS

    from perfbench.eventlog import ProgressListener, drained_rows

    listener = ProgressListener()

    def drain(query_id, rows):
        listener.onQueryProgress(NS(progress=NS(
            id=query_id, batchId=0, numInputRows=rows, durationMs={}, stateOperators=[],
        )))
        listener.onQueryTerminated(NS(id=query_id))

    drain("failed-op", 5)  # its call raised before the check took it
    listener.discard()  # what the stream workload's cleanup does
    for q in ("a", "b", "c"):
        drain(q, 10)
    assert drained_rows(listener.take(3, timeout_s=0.1)) == [10, 10, 10]


def test_a_check_that_fails_in_the_checker_process_raises_in_the_caller():
    from perfbench import checks
    from perfbench.workloads import SF_DIR

    checker = checks.Checker(checks.StreamOracle, SF_DIR)
    try:
        wrong = {"rows": 1, "dedup_state_rows": 0, "window_agg_state_rows": 0}
        with pytest.raises(checks.CheckFailed, match="staged rows 1"):
            checker.check(wrong, [1, 1, 1])
    finally:
        checker.close()

import json

import pytest

import run

ARGV = ["--workload", "cow_upsert", "--seed", "1", "--seconds", "1"]


@pytest.mark.parametrize("correct, code", [(True, 0), (False, 1)])
def test_a_mismatch_fails_the_run_after_printing_the_result(
        monkeypatch, capsys, correct, code):
    result = {"correct": correct, "attempted": 3, "failed": 0, "metrics": {}}
    monkeypatch.setattr(run, "run", lambda args: (result, {"errors": []}))
    assert run.main(ARGV) == code
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(last) == result

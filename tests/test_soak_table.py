"""tools/soak.py's tables against run.py's STAGES, without a session:
one `run <stage>` row per mode, every row's options accepted by the
mode, and an unknown name refused before any session starts."""
import importlib.util
import os

import pytest

pytest.importorskip("pyspark")

from pdfio_spark.pipeline import session  # noqa: E402
from pdfio_spark.pipeline.run import STAGES, check_opts  # noqa: E402

_PATH = os.path.join(os.path.dirname(__file__), "..", "tools", "soak.py")


@pytest.fixture(scope="module")
def soak():
    spec = importlib.util.spec_from_file_location("soak", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_stage_has_one_run_row(soak):
    assert list(soak.RUNS) == list(STAGES)
    assert not set(soak.RUNS) & {"all", "run"}
    assert "run" not in soak.SOAKS


@pytest.mark.parametrize("tokencap", ["0", "1"])
def test_every_run_row_passes_the_option_check(soak, monkeypatch,
                                               tokencap):
    monkeypatch.setenv("SOAK_TOKENCAP", tokencap)
    c = soak.Ctx(None, 4000, 1, "soak_dir", False)
    for stage, row in soak.RUNS.items():
        opts = row.opts(c) if callable(row.opts) else row.opts
        assert check_opts(stage, opts) is STAGES[stage]


@pytest.mark.parametrize("argv", [["nope"], ["rundedup"], ["run"],
                                  ["run", "pfd"], ["run", "all2", "10"]])
def test_unknown_name_exits_before_the_session(soak, monkeypatch, argv):
    def no_session(*a, **kw):
        raise AssertionError("a session started for an unknown name")
    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as e:
        soak.main(argv)
    assert "run <pdf|html|" in str(e.value)
    assert "|amend>" in str(e.value)

"""The run.py stage table and its two launch surfaces, run_job(opts=)
and streaming.stream_stage(mode, opts=).

No Spark action: both validate a mode's options before they touch the
session, so these run with spark=None."""
import pytest

pytest.importorskip("pyspark")

from pdfio_spark.pipeline import session, streaming  # noqa: E402
from pdfio_spark.pipeline.run import (STAGES, _arg_parser, main,  # noqa: E402
                                      run_job)
from pdfio_spark.pipeline.streaming import stream_stage  # noqa: E402

# each mode with options -> the exact key set it accepts
OPTION_KEYS = {
    "sigaudit": {"trust_pems", "crl_blobs", "ocsp_ders"},
    "filter": {"min_words", "max_words", "max_punct_ratio",
               "min_stop_ratio", "langs", "max_dup_word_frac",
               "max_top_bigram_frac"},
    "urlfilter": {"blocked_domains", "blocked_tokens", "allowed_schemes",
                  "max_url_len"},
    "decontam": {"benchmark_path", "benchmark_texts", "k", "min_hits"},
    "domaincap": {"max_per_domain", "max_tokens_per_domain"},
    "semdedup": {"k", "iters", "tau", "train_frac", "nprobe"},
    "mix": {"weights", "default_rate", "seed", "key_col"},
    "dedupref": {"reference_path", "index_path"},
}

NO_OPTIONS = ("pdf", "html", "wet", "wat", "dedup", "pii", "linededup",
              "substrdedup", "urldedup")

# the doc-local modes without side inputs (one stateless map per
# micro-batch is globally correct for them) and the three corpus-global
# modes with a stateful twin
STREAMED = ("pdf", "html", "wet", "wat", "sigaudit", "filter", "pii",
            "urlfilter", "mix", "domaincap", "linededup", "substrdedup")


def _stream(mode, opts=None):
    return stream_stage(None, mode, "in", "chk", "out", opts=opts)


# the ids keep the names of the per-mode option kwargs that `opts`
# replaced, so each case stays the same test
@pytest.mark.parametrize("mode,bad", [
    pytest.param("filter", "min_word", id="filter_opts-min_word"),
    pytest.param("urlfilter", "blocked_domain",
                 id="url_opts-blocked_domain"),
    pytest.param("decontam", "bench_path", id="decontam_opts-bench_path"),
    pytest.param("domaincap", "cap", id="domaincap_opts-cap"),
    pytest.param("semdedup", "kk", id="semdedup_opts-kk"),
    pytest.param("mix", "weight", id="mix_opts-weight"),
    pytest.param("dedupref", "reference", id="dedupref_opts-reference"),
    pytest.param("sigaudit", "crls", id="sig_material-crls"),
    # validate_signatures_over takes export_certs, the mode does not
    pytest.param("sigaudit", "export_certs",
                 id="sig_material-export_certs"),
])
def test_unknown_option_key_fails_fast(mode, bad):
    assert set(STAGES[mode].option_keys()) == OPTION_KEYS[mode]
    with pytest.raises(ValueError, match=f"unknown {mode} option keys"):
        run_job(None, "in", "out", mode=mode, opts={bad: True})
    if mode in STREAMED:
        with pytest.raises(ValueError,
                           match=f"unknown {mode} option keys"):
            _stream(mode, {bad: True})


def test_modes_without_options_reject_any_key():
    assert {m for m, st in STAGES.items()
            if not st.option_keys()} == set(NO_OPTIONS)
    assert set(STAGES) == set(NO_OPTIONS) | set(OPTION_KEYS)
    for mode in NO_OPTIONS:
        with pytest.raises(ValueError, match="takes no options"):
            run_job(None, "in", "out", mode=mode,
                    opts={"min_words": 1})
        if mode in STREAMED:
            with pytest.raises(ValueError, match="takes no options"):
                _stream(mode, {"min_words": 1})
    with pytest.raises(ValueError, match="unknown mode 'pfd'"):
        run_job(None, "in", "out", mode="pfd")
    with pytest.raises(ValueError, match="unknown mode 'pfd'"):
        _stream("pfd")


def test_stream_stage_accepts_the_streamable_modes_only():
    assert {m for m, st in STAGES.items() if st.prep is None and (
        not st.corpus_global or m in streaming._STREAM_OPS)} == \
        set(STREAMED)
    rejected = set(STAGES) - set(STREAMED)
    assert rejected == {"dedup", "semdedup", "urldedup", "decontam",
                        "dedupref"}
    for mode in rejected:
        with pytest.raises(ValueError, match="stateful twin") as e:
            _stream(mode)
        for name in ("stream_dedup", "stream_neardup", "foreachBatch"):
            assert name in str(e.value)


def test_streaming_all_lists_every_twin():
    assert set(streaming.__all__) == {
        "stream_stage", "stream_metrics", "stream_dedup",
        "stream_neardup", "neardup_keep_decisions",
        "stream_shard_export"}
    for gone in ("stream_domain_cap", "stream_line_dedup",
                 "stream_substr_dedup"):
        assert not hasattr(streaming, gone)
    public = {n for n in dir(streaming)
              if n.startswith("stream_")
              and callable(getattr(streaming, n))}
    assert public <= set(streaming.__all__)


def test_every_stage_is_a_cli_mode():
    ap = _arg_parser()
    base = ["--input", "in", "--output", "out"]
    assert ap.parse_args(base).mode == "pdf"
    assert ap._option_string_actions["--mode"].choices == tuple(STAGES)
    for mode in STAGES:
        assert ap.parse_args(base + ["--mode", mode]).mode == mode
    with pytest.raises(SystemExit):
        ap.parse_args(base + ["--mode", "pfd"])


def test_cli_checks_opts_before_the_session(monkeypatch):
    def no_session(*a, **kw):
        raise AssertionError("the session started before the opts check")
    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(ValueError, match="unknown filter option keys"):
        main(["--input", "in", "--output", "out", "--mode", "filter",
              "--opts", '{"min_word": 1}'])
    with pytest.raises(ValueError, match="takes no options"):
        main(["--input", "in", "--output", "out", "--mode", "wat",
              "--opts", '{"min_words": 1}'])

"""The run.py stage table and the streaming twins' public surface.

No Spark action: run_job validates a mode's options before it touches
the session, so these run with spark=None."""
import pytest

pytest.importorskip("pyspark")

from pdfio_spark.pipeline import streaming  # noqa: E402
from pdfio_spark.pipeline.run import STAGES, _arg_parser, run_job  # noqa: E402

# each options kwarg -> (its mode, the exact key set the mode accepts)
OPTION_KEYS = {
    "sig_material": ("sigaudit", {"trust_pems", "crl_blobs", "ocsp_ders"}),
    "filter_opts": ("filter", {"min_words", "max_words", "max_punct_ratio",
                               "min_stop_ratio", "langs",
                               "max_dup_word_frac",
                               "max_top_bigram_frac"}),
    "url_opts": ("urlfilter", {"blocked_domains", "blocked_tokens",
                               "allowed_schemes", "max_url_len"}),
    "decontam_opts": ("decontam", {"benchmark_path", "benchmark_texts",
                                   "k", "min_hits"}),
    "domaincap_opts": ("domaincap", {"max_per_domain",
                                     "max_tokens_per_domain"}),
    "semdedup_opts": ("semdedup", {"k", "iters", "tau", "train_frac",
                                   "nprobe"}),
    "mix_opts": ("mix", {"weights", "default_rate", "seed", "key_col"}),
    "dedupref_opts": ("dedupref", {"reference_path", "index_path"}),
}


@pytest.mark.parametrize("kw,bad", [
    ("filter_opts", "min_word"),
    ("url_opts", "blocked_domain"),
    ("decontam_opts", "bench_path"),
    ("domaincap_opts", "cap"),
    ("semdedup_opts", "kk"),
    ("mix_opts", "weight"),
    ("dedupref_opts", "reference"),
    ("sig_material", "crls"),
    # validate_signatures_over takes export_certs, the mode does not
    ("sig_material", "export_certs"),
])
def test_unknown_option_key_fails_fast(kw, bad):
    mode, keys = OPTION_KEYS[kw]
    assert STAGES[mode].opts_kw == kw
    assert set(STAGES[mode].option_keys()) == keys
    with pytest.raises(ValueError, match=f"unknown {kw} keys"):
        run_job(None, "in", "out", mode=mode, **{kw: {bad: True}})


def test_option_kwargs_are_declared_once():
    declared = {st.opts_kw: m for m, st in STAGES.items() if st.opts_kw}
    assert declared == {kw: m for kw, (m, _) in OPTION_KEYS.items()}
    for kw, (mode, _) in OPTION_KEYS.items():
        other = "pdf" if mode != "pdf" else "html"
        with pytest.raises(ValueError,
                           match=f"{kw} is only valid with mode='{mode}'"):
            run_job(None, "in", "out", mode=other, **{kw: {}})
    with pytest.raises(ValueError, match="unknown mode 'pfd'"):
        run_job(None, "in", "out", mode="pfd")


def test_streaming_all_lists_every_twin():
    public = {n for n in dir(streaming)
              if n.startswith("stream_")
              and callable(getattr(streaming, n))}
    assert public <= set(streaming.__all__)


def test_every_stage_is_a_cli_mode():
    ap = _arg_parser()
    base = ["--input", "in", "--output", "out"]
    assert ap.parse_args(base).mode == "pdf"
    for mode in STAGES:
        assert ap.parse_args(base + ["--mode", mode]).mode == mode
    with pytest.raises(SystemExit):
        ap.parse_args(base + ["--mode", "pfd"])

"""Parity contract for the compiled signature kernels.

The C fast paths (functions/_native.py) must be BIT-EXACT with the
numpy reference paths for every input: signatures feed golden-pinned
queries, so a single differing slot is a correctness regression, not a
perf detail. Property-tested over adversarial text (unicode, repeats,
empty, shorter-than-k) plus the fixed edge cases.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from epstein_pipeline_spark.functions import _native
from epstein_pipeline_spark.functions.minhash import (
    _EMPTY_SIG_SEED,
    _perm_params,
    _shingle_hashes,
    _signature,
)
from epstein_pipeline_spark.functions.simhash import (
    _np_simhash_batch,
    _weight_int,
    make_simhash_udf,
    py_simhash,
)

A, B = _perm_params(128, 1)

EDGE_TEXTS = [
    "",
    "a",
    "ab",
    "abcd",
    "abcde",
    "abcdef",
    "x" * 10,
    "héllo wörld   ünïcode",
    "\x00\x01\x02",
    "many words " * 50,
    "\U0001f600 emoji text \U0001f600",
]


def _np_sigs(texts: list[str]) -> np.ndarray:
    return np.stack([_signature(_shingle_hashes(t, 5), A, B).astype(np.int64) for t in texts])


def test_native_available():
    # the sandbox has gcc; if this starts failing the bench silently
    # runs the numpy path — surface that loudly here
    assert _native.get_lib() is not None


def test_build_dir_keyed_by_host_type():
    # the .so is built -march=native: another architecture or another
    # CPU feature set must never reuse it from a shared tmpdir
    base = _native._build_dir("x86_64", "fpu sse2 avx2")
    assert base == _native._build_dir("x86_64", "fpu sse2 avx2")
    assert base != _native._build_dir("aarch64", "fpu sse2 avx2")
    assert base != _native._build_dir("x86_64", "fpu sse2 avx2 avx512f")


def test_failed_build_warns_once_and_falls_back(monkeypatch, tmp_path):
    """A failed compile is not silent: one RuntimeWarning naming the
    cause, then ``None`` (the numpy fallback), and no retry. monkeypatch
    restores the cached handle and the build hooks afterwards."""
    import subprocess

    import pytest

    def no_compiler(cmd, **kw):
        raise subprocess.CalledProcessError(1, cmd, stderr=b"gcc: fatal error: no input")

    monkeypatch.setattr(_native, "_TRIED", False)
    monkeypatch.setattr(_native, "_LIB", None)
    monkeypatch.setattr(_native, "_build_dir", lambda machine, flags: tmp_path / "build")
    monkeypatch.setattr(_native.subprocess, "run", no_compiler)
    with pytest.warns(RuntimeWarning, match="gcc: fatal error") as rec:
        assert _native.get_lib() is None
        assert _native.get_lib() is None  # cached: no second attempt, no second warning
    assert len(rec) == 1


def test_minhash_native_matches_numpy_edges():
    if _native.get_lib() is None:
        return
    # docs of 2^19 shingles (the largest dedup table) and 2^19 + 1 (no
    # table: every shingle permuted), over a small vocabulary so most
    # shingles repeat
    rng = np.random.RandomState(7)
    words = np.array(["alpha", "beta", "gamma", "delta", "eps"])
    filler = " ".join(words[rng.randint(0, len(words), 200_000)])
    n_sh = _native.MINHASH_SET_MAX_SLOTS // 2
    texts = EDGE_TEXTS + [filler[: n_sh + 4], filler[: n_sh + 5]]
    enc = [t.encode("utf-8") for t in texts]
    got = _native.minhash_batch(enc, 5, A, B, _EMPTY_SIG_SEED)
    assert np.array_equal(got, _np_sigs(texts))


@settings(max_examples=150, deadline=None)
@given(st.lists(st.text(max_size=300), min_size=1, max_size=8))
def test_minhash_native_matches_numpy_prop(texts):
    if _native.get_lib() is None:
        return
    enc = [t.encode("utf-8") for t in texts]
    got = _native.minhash_batch(enc, 5, A, B, _EMPTY_SIG_SEED)
    assert np.array_equal(got, _np_sigs(texts))


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2**64 - 1), st.integers(1, 10_000_000)),
        min_size=0,
        max_size=40,
    ),
    st.integers(1, 4),
)
def test_simhash_accumulate_native_matches_numpy(rows, ndocs):
    if _native.get_lib() is None:
        return
    hs = np.array([r[0] for r in rows], dtype=np.uint64)
    ws = np.array([r[1] for r in rows], dtype=np.int64)
    # split rows into ndocs segments
    cuts = np.linspace(0, len(rows), ndocs + 1).astype(np.int64)
    got = _native.simhash_batch(hs, ws, cuts)
    assert np.array_equal(got, _np_simhash_batch(hs, ws, cuts))


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=400))
def test_simhash_udf_kernel_matches_py_twin(text):
    f = make_simhash_udf().func
    got = f(pd.Series([text, text + " tail", ""])).tolist()
    assert got[0] == py_simhash(text)
    assert got[1] == py_simhash(text + " tail")
    assert got[2] == 0


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=520))
def test_blake2b8_matches_hashlib(data):
    if _native.get_lib() is None:
        return
    import hashlib

    want = int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "little")
    assert _native.blake2b8(data) == want


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab \t\n é🙂"), max_size=60
        ),
        min_size=1,
        max_size=5,
    )
)
def test_simhash_full_native_path_matches_py_twin(texts):
    # whitespace-adversarial inputs: the C tokenizer's single-space
    # contract is established by the UDF's " ".join(t.split()) pre-pass
    f = make_simhash_udf().func
    got = f(pd.Series(texts)).tolist()
    for t, g in zip(texts, got):
        assert g == py_simhash(t)


def _py_chain(b):
    from epstein_pipeline_spark.functions.text import (
        py_clean_ocr_noise,
        py_extract_text,
        py_normalize_text,
    )

    e = py_extract_text(b)
    return e, py_normalize_text(py_clean_ocr_noise(e))


_HTML_FRAGS = [
    "<script>x</script>", "<ScRiPt a=b>zz</SCRIPT>", "<script>never closed",
    "<style>s</style>", "<title>T</title>", "<nav id=1>n</nav>",
    "<header>h</header>", "<footer>f</footer>", "</p>", "</P>", "</h3>",
    "</h7>", "</pre>", "<div>", "</li></tr></div>", "<>", "<<a>>", "<b",
    "&amp;lt;", "&amp;amp;", "&lt;tag&gt;", "&nbsp;&nbsp;", "&#39;q&#39;",
    "a  \t b", " \n ", "\n\n\n\n", "\n" * 15, "x" * 12, "-" * 8,
    "----\n----", "___\n====\nword", "  ==== ", "---x\n----", "\x07\x1b\x00",
    "aAbB", ".", "#*~=", "*" * 4, "*" * 3, "\t\t", "\r\n\r\n", "a\r\rb",
    "\v\f", "<scriptfoo>q</script>", "<navy>q</nav>", " \n\n ", "z \n z",
    "eeeeeeeeeeee\nnnnnnnnnnnnnn",
]


@settings(max_examples=250, deadline=None)
@given(st.lists(st.sampled_from(_HTML_FRAGS), min_size=0, max_size=8))
def test_extract_chain_native_matches_py_twins(frags):
    """The compiled ASCII extract/clean/normalize chain must be
    byte-identical to the re twins — extracted text is the per-url
    invariant and the normalized text feeds content_hash."""
    if _native.get_lib() is None:
        return
    b = "".join(frags).encode()
    assert b.isascii()
    r = _native.extract_chain([b])
    e, t = _py_chain(b)
    assert r[0][0] == e.encode() and r[1][0] == t.encode()


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=300))
def test_extract_batch_glue_matches_py_twins(data):
    """py_extract_normalize_batch routes ASCII through the compiled
    chain and everything else through the twins; either way the output
    triple must equal the pure-python chain."""
    import hashlib

    from epstein_pipeline_spark.functions.text import py_extract_normalize_batch

    ext, norm, hsh = py_extract_normalize_batch([data, None])
    e, t = _py_chain(data)
    assert (ext[0], norm[0]) == (e, t)
    assert hsh[0] == hashlib.sha256(t.encode()).hexdigest()
    assert ext[1] is None and norm[1] is None and hsh[1] is None


def test_simhash_weight_quantization_monotone():
    # fixed-point weights keep the log1p ordering (sanity on the grid)
    ws = [_weight_int(c) for c in range(1, 2000)]
    assert all(b >= a for a, b in zip(ws, ws[1:]))
    assert _weight_int(0) == 0

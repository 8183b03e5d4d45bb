"""Feature columns: vectorized vs scalar equivalence; CRF decode + artifact."""

import numpy as np
import pandas as pd
import pytest

from astrospark.crf import (
    SEP,
    CrfModel,
    build_vocabs,
    shift_codes,
    shift_within_sequences,
    template_values,
    viterbi_batched,
    viterbi_single,
)
from astrospark.features import compute_columns
from astrospark.oracle import scalar_columns, scalar_emissions
from astrospark.templates import BOUNDARY, N_LABELS, TEMPLATES

TOKENS = [
    "GRB", "020819B", "the", "detect", "(", ")", "[", "]", ".", ",", "-",
    '"', "'", "`", "NGC", "1275", "Magellanic", "x", "X", "3", "GHz", "4",
    "σ", "M", "ALLCAPS", "Ab1", "a1b2", "..", "--", "?!", "%", "I",
]


def test_columns_vectorized_matches_scalar():
    an = np.array([t == "GRB" for t in TOKENS])
    ia = np.array([t in ("GRB", "020819B") for t in TOKENS])
    cols = compute_columns(pd.Series(TOKENS, dtype="object"), an, ia)
    for i, tok in enumerate(TOKENS):
        exp = scalar_columns(tok, bool(an[i]), bool(ia[i]))
        got = [str(np.asarray(c, dtype=object)[i]) for c in cols]
        assert got == exp, tok


def test_shift_codes_matches_shift_strings():
    rng = np.random.default_rng(5)
    col = np.array(list("abcdefghij"), dtype=object)
    seq = np.array([0, 0, 0, 1, 1, 2, 2, 2, 2, 3])
    codes = np.arange(10, dtype=np.int64)
    for d in range(-4, 5):
        s = shift_within_sequences(col, seq, d)
        c = shift_codes(codes, seq, d)
        for i in range(10):
            if c[i] == -1:
                assert s[i] == BOUNDARY
            else:
                assert s[i] == col[c[i]]


def test_viterbi_batched_matches_single():
    rng = np.random.default_rng(9)
    trans = rng.normal(size=(N_LABELS, N_LABELS)).astype(np.float32)
    lengths = [1, 2, 3, 7, 20, 64, 5, 1, 13]
    emits = [rng.normal(size=(T, N_LABELS)).astype(np.float32) for T in lengths]
    seq_ids = np.repeat(np.arange(len(lengths)), lengths)
    flat = np.concatenate(emits)
    batched = viterbi_batched(flat, seq_ids, trans)
    pos = 0
    for T, em in zip(lengths, emits):
        single = viterbi_single(em.astype(np.float64), trans.astype(np.float64))
        assert batched[pos : pos + T].tolist() == single.tolist()
        pos += T


def _kernel_inputs(seqs, astro, rng):
    """The kernel's emission inputs for token sequences ``seqs``: per
    distinct token columns 0-16 sharing one codes array, plus a random
    per-position interval column as ("0"/"1", flag) codes. Also returns the
    per-position scalar columns (oracle.scalar_columns)."""
    toks = np.array([t for s in seqs for t in s], dtype=object)
    seq_ids = np.repeat(np.arange(len(seqs)), [len(s) for s in seqs])
    interval = rng.random(len(toks)) < 0.3
    codes, uniq = pd.factorize(toks)
    ucols = compute_columns(
        pd.Series(uniq, dtype="object"), np.array([u in astro for u in uniq]), None
    )
    cols = [(ucols[c], codes) for c in range(17)]
    cols.append((np.array(["0", "1"], dtype=object), interval.astype(np.int64)))
    scalar = [scalar_columns(t, t in astro, bool(p)) for t, p in zip(toks, interval)]
    return cols, seq_ids, scalar


def _scalar_reference(scalar, seq_ids, model):
    """oracle.scalar_emissions run sequence by sequence."""
    return np.concatenate(
        [
            scalar_emissions([scalar[i] for i in np.flatnonzero(seq_ids == s)], model)
            for s in np.unique(seq_ids)
        ]
    )


def test_emissions_fast_path_matches_template_values(artifacts):
    """The factorized LUT scorer must equal the string-join scorer."""
    _, _, model = artifacts
    rng = np.random.default_rng(2)
    toks = [TOKENS[i] for i in rng.integers(0, len(TOKENS), size=60)]
    lens = np.bincount(np.sort(rng.integers(0, 5, size=60)), minlength=5)
    seqs = np.split(np.array(toks, dtype=object), np.cumsum(lens)[:-1])
    cols, seq_ids, _ = _kernel_inputs(seqs, {"GRB", "NGC", "x"}, rng)
    fast = model.emissions(cols, seq_ids)
    full = [np.asarray(vals, dtype=object)[codes] for vals, codes in cols]
    values = template_values(full, seq_ids)
    slow = np.zeros_like(fast)
    for k, vals in enumerate(values):
        vocab, w = model.vocabs[k], model.weights[k]
        oov = len(vocab)
        ids = np.array([vocab.get(v, oov) for v in vals], dtype=np.int64)
        slow += w[ids]
    assert np.allclose(fast, slow, atol=1e-4)


def test_model_artifact_roundtrip(tmp_path, artifacts):
    _, _, model = artifacts
    p = str(tmp_path / "w.npz")
    model.save(p)
    m2 = CrfModel.load(p)
    assert np.allclose(model.trans, m2.trans)
    assert len(m2.vocabs) == len(TEMPLATES)
    for a, b in zip(model.weights, m2.weights):
        assert np.allclose(a, b)


SEP_TOKENS = ("a\x1fb", "\x1f", "NGC\x1f1275", "x\x1f", "1275")


def _trigram_seqs(model, rng, n_seqs, extra=SEP_TOKENS):
    """Token sequences built from the shipped trigram vocab's keys, so the
    compound templates hit real rows, with SEP-bearing tokens mixed in and
    sequences of length 1-2 (shorter than the compound padding)."""
    k = next(k for k, (name, _s) in enumerate(TEMPLATES) if name == "U0E_a")
    grams = [key.split(SEP) for key in list(model.vocabs[k])[:400]]
    grams = [[t for t in g if t != BOUNDARY] for g in grams]
    seqs = []
    for i in range(n_seqs):
        if i % 7 == 0:
            seqs.append([extra[int(rng.integers(0, len(extra)))]])
            continue
        s = []
        for _ in range(int(rng.integers(1, 6))):
            if rng.random() < 0.15:
                s.append(extra[int(rng.integers(0, len(extra)))])
            else:
                s.extend(grams[int(rng.integers(0, len(grams)))])
        seqs.append(s[: int(rng.integers(1, 3))] if i % 5 == 0 else s)
    return [s for s in seqs if s]


def test_emissions_match_scalar_oracle(artifacts):
    """The integer emission path is array-equal to the oracle's string
    probes on multi-sequence batches: length-1 sequences, sequences
    shorter than the compound padding, and SEP-bearing tokens (a SEP
    inside a component scores OOV on both sides)."""
    vocab, _, model = artifacts
    rng = np.random.default_rng(3)
    for _ in range(5):
        seqs = _trigram_seqs(model, rng, 60)
        cols, seq_ids, scalar = _kernel_inputs(seqs, vocab, rng)
        got = model.emissions(cols, seq_ids)
        assert np.array_equal(got, _scalar_reference(scalar, seq_ids, model))


@pytest.fixture
def wide_templates(monkeypatch):
    """TEMPLATES plus compounds beyond the shipped templates' reach of 2
    and a mixed-column compound; EVAL_PLAN rebuilt and patched wherever it
    is imported. With a fixed padding of 2 per side, adjacent sequences
    still leave 4 boundary slots between them, so (-3, -2) alone reads
    right by luck; (-5, -4) reaches the previous sequence's last token."""
    from astrospark import crf, oracle, templates

    wide = TEMPLATES + (
        ("UX0", ((-3, 0), (-2, 0))),
        ("UX1", ((-1, 0), (1, 12))),
        ("UX2", ((-5, 0), (-4, 0))),
    )
    monkeypatch.setattr(templates, "TEMPLATES", wide)
    plan = templates._build_eval_plan()
    for mod in (templates, crf, oracle):
        monkeypatch.setattr(mod, "TEMPLATES", wide)
        monkeypatch.setattr(mod, "EVAL_PLAN", plan)
    return wide


def test_emissions_out_of_range_compound_offsets(artifacts, wide_templates):
    """A compound reaching further than the shipped ones reads inside its
    own sequence or the boundary, never a neighbour: the padding follows
    the templates' largest |d|."""
    vocab, _, shipped = artifacts
    rng = np.random.default_rng(4)
    # SEP-free tokens: training keys must split into SEP-free parts (see
    # _compound_tables); SEP-bearing batches are covered above
    train = _trigram_seqs(shipped, rng, 200, extra=("1275", "x"))
    cols, seq_ids, _ = _kernel_inputs(train, vocab, rng)
    full = [np.asarray(vals, dtype=object)[codes] for vals, codes in cols]
    vocabs = build_vocabs([template_values(full, seq_ids)])
    weights = []
    for v in vocabs:
        w = rng.normal(size=(len(v) + 1, N_LABELS)).astype(np.float32)
        w[-1] = 0.0
        weights.append(w)
    model = CrfModel(vocabs, weights, rng.normal(size=(N_LABELS, N_LABELS)))
    for _ in range(3):
        seqs = _trigram_seqs(shipped, rng, 80, extra=("1275", "x"))
        cols, seq_ids, scalar = _kernel_inputs(seqs, vocab, rng)
        got = model.emissions(cols, seq_ids)
        assert np.array_equal(got, _scalar_reference(scalar, seq_ids, model))


def test_compound_tables_reject_undecomposable_and_overflowing_keys(monkeypatch):
    from astrospark import crf

    def model_with(templates, key):
        vocabs = [{} for _ in templates]
        vocabs[-1] = {key: 0}
        weights = [np.zeros((len(v) + 1, N_LABELS), dtype=np.float32) for v in vocabs]
        monkeypatch.setattr(crf, "TEMPLATES", templates)
        return CrfModel(vocabs, weights, np.zeros((N_LABELS, N_LABELS)))

    bigram = TEMPLATES + (("UX0", ((0, 0), (1, 0))),)
    with pytest.raises(ValueError, match="SEP-free"):
        model_with(bigram, "a" + SEP + "b" + SEP + "c")._compound_tables()
    # 8 components (7 letters + BOUNDARY) → B = 9, and 9**22 > 2**63
    long_gram = TEMPLATES + (("UX0", tuple((d, 0) for d in range(22))),)
    key = SEP.join("abcdefg"[i % 7] for i in range(22))
    with pytest.raises(ValueError, match="overflow"):
        model_with(long_gram, key)._compound_tables()


def test_load_rejects_wrong_label_count(tmp_path, artifacts):
    _, _, model = artifacts
    p = str(tmp_path / "w.npz")
    model.save(p)
    arrays = dict(np.load(p))
    for name, bad in (
        ("trans", np.zeros((4, 4), dtype=np.float32)),
        ("w_0", np.zeros((len(arrays["vals_0"]) + 1, 2), dtype=np.float32)),
    ):
        q = str(tmp_path / f"bad_{name}.npz")
        np.savez(q, **dict(arrays, **{name: bad}))
        with pytest.raises(ValueError, match="shape"):
            CrfModel.load(q)


def test_viterbi_unrolled_tie_breaks_match_scalar():
    """Integer-valued emissions/transitions create exact score ties; the
    unrolled 3-label forward step must reproduce argmax's first-max
    tie-break (lower previous label wins)."""
    rng = np.random.default_rng(0)
    for _ in range(25):
        n_seq = int(rng.integers(1, 30))
        lens = rng.integers(1, 50, n_seq)
        seq = np.repeat(np.arange(n_seq), lens)
        n = int(lens.sum())
        emit = rng.integers(-3, 4, (n, N_LABELS)).astype(np.float64)
        trans = rng.integers(-2, 3, (N_LABELS, N_LABELS)).astype(np.float32)
        got = viterbi_batched(emit, seq, trans)
        starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
        pos = 0
        for s, ln in zip(starts, lens):
            single = viterbi_single(emit[s : s + ln], trans.astype(np.float64))
            assert np.array_equal(got[s : s + ln], single)


def test_viterbi_equal_lengths_and_long_tied_sequence():
    """Many equal-length sequences (one shared active prefix at every step)
    around one 5000-token sequence, with integer scores so exact ties
    occur throughout: every sequence decodes as viterbi_single does."""
    rng = np.random.default_rng(11)
    lens = np.array([6] * 200 + [5000] + [6] * 100 + [1] * 50)
    rng.shuffle(lens)
    seq = np.repeat(np.arange(len(lens)), lens)
    emit = rng.integers(-2, 3, (len(seq), N_LABELS)).astype(np.float64)
    trans = rng.integers(-1, 2, (N_LABELS, N_LABELS)).astype(np.float32)
    got = viterbi_batched(emit, seq, trans)
    for s, ln in zip(np.concatenate(([0], np.cumsum(lens)))[:-1], lens):
        single = viterbi_single(emit[s : s + ln], trans.astype(np.float64))
        assert np.array_equal(got[s : s + ln], single)

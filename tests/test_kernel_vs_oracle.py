"""Span-sequence equality: vectorized kernel vs scalar oracle (the
BASELINE.json per-row invariant, exercised without Spark)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from astrospark.fixtures import make_docs
from astrospark.kernel import DOCS_SCHEMA, OUTPUT_COLUMNS, extract_batch
from astrospark.oracle import process_document

ADVERSARIAL = [
    "  GRB 020819B at start with two leading spaces",
    " GRB 050219 one leading space",
    "GRB 030329",
    "(GRB 980425) parens",
    "trailing entity NGC 1275",
    "trailing entity with space NGC 1275 ",
    "double  spaces  around  NGC 4993  here",
    "(NGC 1275)(M 31)",
    "M 31. M 32. M 33.",
    "  ",
    "",
    "x",
    ".",
    "GRB",
    "NGC 1275\tM 31",
    "–—―NGC 300―—–",
    "entity at very end GRB 021004",
    # SEP (the compound-template separator) inside tokens
    "NGC\x1f1275 near GRB 020819B\x1f",
    "\x1f M 31 \x1f",
    "a\x1fb NGC 1275 \x1f\x1f GRB 030329",
]


def _rows(df: pd.DataFrame, doc_id: str):
    sub = df[df.doc_id == doc_id]
    return [
        dict(seq=int(r.seq), kind=r.kind, text=r.text, media_ref=r.media_ref, offset=int(r.offset))
        for r in sub.itertuples()
    ]


def _check(docs, artifacts, trie=None):
    vocab, shipped_trie, model = artifacts
    trie = shipped_trie if trie is None else trie
    pdf = pd.DataFrame(
        {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
    )
    out = extract_batch(pdf, vocab, trie, model).drop(columns=["end"])
    for d in docs:
        exp = process_document(d["spans"], vocab, trie, model)
        assert _rows(out, d["doc_id"]) == exp, d["doc_id"]
    return out


def test_fixture_docs_match_oracle(artifacts):
    _check(make_docs(120, seed=11, skew_every=60), artifacts)


def test_adversarial_text_chunks(artifacts):
    docs = [
        {"doc_id": f"t{i}", "spans": [{"kind": "text", "text": t, "media_ref": "", "offset": 0}]}
        for i, t in enumerate(ADVERSARIAL)
    ]
    _check(docs, artifacts)


def test_empty_gazetteer_matches_oracle(artifacts):
    """No gazetteer entries: no interval flags, no trie descent; the CRF
    still labels objects."""
    docs = make_docs(40, seed=5, skew_every=20) + [
        {"doc_id": "e0", "spans": [{"kind": "text", "text": "We detect GRB 020819B near NGC 1275.", "media_ref": "", "offset": 0}]}
    ]
    out = _check(docs, artifacts, trie={})
    assert (out[out.doc_id == "e0"].kind == "object").sum() == 2


def test_adversarial_line_chunks(artifacts):
    docs = [
        {
            "doc_id": f"l{i}",
            "spans": [{"kind": "table", "text": "hdr\n" + t + "\n" + t, "media_ref": "", "offset": 3}],
        }
        for i, t in enumerate(ADVERSARIAL)
    ]
    _check(docs, artifacts)


def test_random_whitespace_fuzz(artifacts):
    rng = np.random.default_rng(3)
    ents = ["GRB 020819B", "NGC 1275", "M 31", "Crab Nebula", "PSR J0534+2200"]
    toks = ["a", "bb", "(", ")", ".", ",", "-", " ", "  ", "   ", "\n", "\t", "x y"]
    docs = []
    for i in range(120):
        parts = []
        for _ in range(rng.integers(1, 15)):
            if rng.random() < 0.3:
                parts.append(ents[rng.integers(0, len(ents))])
            else:
                parts.append(toks[rng.integers(0, len(toks))])
        kind = ["text", "table", "figure"][rng.integers(0, 3)]
        docs.append(
            {
                "doc_id": f"f{i}",
                "spans": [
                    {"kind": kind, "text": "".join(parts), "media_ref": "", "offset": int(rng.integers(0, 100))}
                ],
            }
        )
    _check(docs, artifacts)


def test_media_passthrough_and_interleaving(artifacts):
    doc = {
        "doc_id": "m0",
        "spans": [
            {"kind": "media", "text": "", "media_ref": "img://a", "offset": 5},
            {"kind": "text", "text": "We see GRB 020819B here", "media_ref": "", "offset": 6},
            {"kind": "media", "text": "", "media_ref": "vid://b", "offset": 30},
        ],
    }
    vocab, trie, model = artifacts
    pdf = pd.DataFrame({"doc_id": ["m0"], "spans": [doc["spans"]]})
    out = extract_batch(pdf, vocab, trie, model)
    kinds = out["kind"].tolist()
    assert kinds == ["media", "object", "media"]
    assert out["seq"].tolist() == [0, 1, 2]
    assert out["offset"].tolist() == [5, 13, 30]


def test_long_sequence_decode_matches_oracle(artifacts):
    """Multi-thousand-token sequence: float32 Viterbi/emission accumulation
    drifts enough to flip near-tie decodes at this length (regression for
    the float64 fix); the kernel must match the float64 scalar oracle."""
    import random

    import pandas as pd

    from astrospark.kernel import extract_batch
    from astrospark.lexicon import load_names
    from astrospark.oracle import process_document

    vocab, trie, model = artifacts
    names = load_names()
    rng = random.Random(7)
    words = []
    for _ in range(4000):
        words.append(rng.choice(names) if rng.random() < 0.1 else f"w{rng.randint(0, 50)}")
    spans = [{"kind": "text", "text": " ".join(words), "media_ref": "", "offset": 0}]
    pdf = pd.DataFrame({"doc_id": ["long0"], "spans": [spans]})
    out = extract_batch(pdf, vocab, trie, model)
    got = [
        (int(r.seq), r.kind, r.text, r.media_ref, int(r.offset))
        for r in out.itertuples()
    ]
    want = [
        (x["seq"], x["kind"], x["text"], x["media_ref"], x["offset"])
        for x in process_document(spans, vocab, trie, model)
    ]
    assert got == want
    assert len(got) > 50  # the doc genuinely exercises decode


def test_blank_and_trim_match_oracle(artifacts, monkeypatch):
    """The kernel's blank-span test (utf8_is_space) and object-text trim
    (utf8_trim of chars <= 0x20) against the oracle's isBlank / java_trim:
    every str.isspace() codepoint, "" and non-space controls, as a text
    span, padded with \\x01, and glued around entities. Blank spans label
    no objects either way, so the units handed to the tokenizer are
    checked too."""
    from astrospark import kernel
    from astrospark.oracle import is_blank

    units: list = []
    tokenize = kernel.tokenize_spans
    monkeypatch.setattr(kernel, "tokenize_spans", lambda t: units.extend(t) or tokenize(t))
    spaces = [c for c in map(chr, range(0x110000)) if c.isspace()]
    assert len(spaces) == 29 and {"\x1c", "\x1f", "\x85", "\u3000"} <= set(spaces)
    chars = [""] + spaces + ["\x00", "\x01", "\x7f", "\u200b"]
    docs = [
        {
            "doc_id": f"c{i}",
            "spans": [
                {"kind": "text", "text": t, "media_ref": "", "offset": 10 * j}
                for j, t in enumerate(
                    (c, f"\x01{c}\x01", f"{c}GRB 020819B{c} near {c}NGC 1275 {c}\x01")
                )
            ],
        }
        for i, c in enumerate(chars)
    ]
    _check(docs, artifacts)
    blank = [t for d in docs for t in (s["text"] for s in d["spans"]) if is_blank(t)]
    assert len(blank) == 30 and not any(map(is_blank, units))


def test_arrow_input_edge_cases(artifacts):
    """A sliced RecordBatch (non-zero offset) with null and empty span
    lists, null text/media_ref, and line spans with blank, trailing and
    CRLF lines: the kernel on the RecordBatch, on the same rows as pandas,
    and the oracle agree per doc."""
    vocab, trie, model = artifacts
    ent = [{"kind": "text", "text": "We see GRB 020819B.", "media_ref": "", "offset": 0}]
    docs = [
        ("n0", None),
        ("e0", []),
        ("t0", [
            {"kind": "text", "text": None, "media_ref": None, "offset": 0},
            {"kind": "media", "text": None, "media_ref": None, "offset": 2},
            {"kind": "table", "text": None, "media_ref": "", "offset": 3},
        ]),
        ("l0", [{"kind": "table", "text": "GRB 020819B\n\nNGC 1275\n", "media_ref": "", "offset": 4}]),
        ("l1", [
            {"kind": "figure", "text": "M 31\r\nNGC 1275\r\n\n", "media_ref": "", "offset": 0},
            {"kind": "media", "text": "", "media_ref": "img://x", "offset": 20},
            {"kind": "text", "text": "We see GRB 030329.", "media_ref": "", "offset": 21},
        ]),
    ]
    full = pa.RecordBatch.from_pydict(
        {
            "doc_id": ["pad0"] + [d for d, _ in docs] + ["pad1"],
            "spans": [ent] + [s for _, s in docs] + [ent],
        },
        schema=DOCS_SCHEMA,
    )
    batch = full.slice(1, len(docs))
    out = extract_batch(batch, vocab, trie, model)
    pd.testing.assert_frame_equal(out, extract_batch(batch.to_pandas(), vocab, trie, model))
    assert set(out.doc_id) <= {d for d, _ in docs}
    for doc_id, spans in docs:
        assert _rows(out, doc_id) == process_document(spans or [], vocab, trie, model), doc_id
    assert (out.kind == "object").sum() >= 4

    # all-[] spans: pandas alone would infer list<null>
    none = extract_batch(pd.DataFrame({"doc_id": ["a", "b"], "spans": [[], []]}), vocab, trie, model)
    assert none.empty and tuple(none.columns) == OUTPUT_COLUMNS
    assert none.dtypes.astype(str).tolist() == ["object", "int32", "object", "object", "object", "int32", "int32"]

"""Linear-chain CRF scorer/decoder (pure numpy) + deterministic training.

Replaces the reference's Wapiti JNI hop
(/root/reference/src/main/java/org/grobid/core/engines/AstroParser.java:122,303,344
calling grobid-core ``label()`` → native Wapiti) with broadcastable numpy
weight tables and a batched Viterbi that decodes every sequence of an Arrow
batch in a handful of numpy ops per time-step — no per-token Python on the
Spark path.

Model shape: for each feature template k (templates.py), a value→row-id dict
and a dense (n_values+1, 3) weight matrix (last row = OOV/unseen → 0), plus a
3×3 label-transition matrix (the template file's ``B`` line). Score of a
label sequence y is sum_t emit[t, y_t] + sum_{t>0} T[y_{t-1}, y_t].

Scoring has one integer path (CrfModel.emissions), taking the kernel's
column form: token-derived columns per distinct batch token plus one shared
token-codes array, and the positional interval column. Single-column
templates probe their vocab once per distinct value and reach all positions
with one gather per offset; compound templates probe by mixed-radix int64
component-id keys read from one factorized p-gram array per relative
pattern. The reference for all of it is the scalar oracle
(oracle.scalar_emissions), which probes the vocab dicts with plain strings.

The shipped weights artifact (resources/weights.npz) is trained here with a
seeded averaged structured perceptron on the synthetic annotated corpus
(corpus.py) — the reference's own binary model is absent from its repo
(/root/reference/.MISSING_LARGE_BLOBS), so the model artifact is ours by
construction; reference parity is at the semantics level (features, decoding,
extraction), verified span-for-span against the scalar oracle.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from astrospark.templates import BOUNDARY, EVAL_PLAN, INTERVAL_COL, N_LABELS, TEMPLATES

# ---------------------------------------------------------------------------
# template value construction (vectorized)
# ---------------------------------------------------------------------------


def shift_within_sequences(col: np.ndarray, seq_ids: np.ndarray, d: int) -> np.ndarray:
    """Value of ``col`` at position t+d, or BOUNDARY when t+d leaves the
    sequence. ``seq_ids`` must be grouped (all positions of a sequence
    contiguous). Fully vectorized."""
    n = len(col)
    if d == 0:
        return col
    out = np.full(n, BOUNDARY, dtype=object)
    if d > 0:
        if n > d:
            ok = seq_ids[d:] == seq_ids[:-d]
            out[: n - d][ok] = col[d:][ok]
    else:
        k = -d
        if n > k:
            ok = seq_ids[k:] == seq_ids[:-k]
            out[k:][ok] = col[: n - k][ok]
    return out


# separator for compound-template observation values (training vocab keys
# and the oracle's probe strings). A token may itself contain it; the
# integer compound probe still agrees with the joined-string probe then
# (see CrfModel._compound_tables).
SEP = "\x1f"


def template_values(cols: list[np.ndarray], seq_ids: np.ndarray) -> list[np.ndarray]:
    """For each template, the (possibly compound) observation string per
    position. Compound values are joined with SEP. (Training/oracle path —
    inference uses the integer path in CrfModel.emissions.)"""
    values: list[np.ndarray] = []
    cols = [
        c if isinstance(c, np.ndarray) else np.asarray(c, dtype=object) for c in cols
    ]
    for _name, spec in TEMPLATES:
        parts = [shift_within_sequences(cols[c], seq_ids, d) for d, c in spec]
        if len(parts) == 1:
            values.append(parts[0])
        else:
            s = pd.Series(parts[0], dtype="object")
            joined = s.str.cat([pd.Series(p, dtype="object") for p in parts[1:]], sep=SEP)
            values.append(joined.to_numpy())
    return values


def shift_codes(codes: np.ndarray, seq_ids: np.ndarray, d: int) -> np.ndarray:
    """Factorized-code variant of shift_within_sequences; -1 = boundary."""
    n = len(codes)
    if d == 0:
        return codes
    out = np.full(n, -1, dtype=np.int64)
    if d > 0:
        if n > d:
            ok = seq_ids[d:] == seq_ids[:-d]
            out[: n - d][ok] = codes[d:][ok]
    else:
        k = -d
        if n > k:
            ok = seq_ids[k:] == seq_ids[:-k]
            out[k:][ok] = codes[: n - k][ok]
    return out


# ---------------------------------------------------------------------------
# model container
# ---------------------------------------------------------------------------


class CrfModel:
    __slots__ = ("vocabs", "weights", "trans", "_indexes", "_ctab")

    def __init__(self, vocabs: list[dict], weights: list[np.ndarray], trans: np.ndarray):
        # the scorer and the unrolled Viterbi are written for N_LABELS labels
        if np.shape(trans) != (N_LABELS, N_LABELS):
            raise ValueError(f"trans shape {np.shape(trans)}, want {(N_LABELS, N_LABELS)}")
        for k, w in enumerate(weights):
            if np.ndim(w) != 2 or np.shape(w)[1] != N_LABELS:
                raise ValueError(f"weights[{k}] shape {np.shape(w)}, want (n, {N_LABELS})")
        self.vocabs = vocabs
        self.weights = weights
        self.trans = trans
        self._indexes: list[pd.Index] | None = None
        self._ctab = None

    def _vocab_index(self, k: int) -> pd.Index:
        """Hash index over template k's observation vocabulary; position ==
        weight row id (vocab dicts are insertion-ordered by id). Built once
        per model — get_indexer then probes in C instead of dict.get per
        value."""
        if self._indexes is None:
            self._indexes = [
                pd.Index(np.fromiter(v.keys(), dtype=object, count=len(v)))
                if v
                else pd.Index(np.empty(0, dtype=object))
                for v in self.vocabs
            ]
        return self._indexes[k]

    def _compound_tables(self):
        """Integer-key probe tables for the compound templates, built once
        per model: ``(comp_index, B, boundary_cid, pad, compounds)``.

        Every compound vocab key must split on SEP into exactly ``len(spec)``
        parts (else ValueError). The parts get dense ids from one shared
        ``comp_index`` and each key becomes a mixed-radix int64 over them
        (base B = #components + 1; digit B-1 is the unseen-token sentinel,
        so B**p must fit int64, else ValueError). A batch combo then hits a
        vocab row iff its component ids match digit for digit. That equals
        the oracle's ``SEP.join`` probe on every input: components are
        SEP-free, so a batch value containing SEP gets the sentinel and
        scores OOV, and its joined string has more than p parts and misses
        every key too.

        ``compounds[k] = (pattern, d0, key_index)``: template k's spec
        ``((d_0, c_0), ...)`` as the relative pattern ``((d_j - d_0, c_j),
        ...)`` read at start offset d0. ``pad`` is the compound templates'
        largest |d|, the boundary padding emissions puts around every
        sequence so no read crosses into a neighbour.
        """
        if self._ctab is None:
            compound = [(k, spec) for k, (_n, spec) in enumerate(TEMPLATES) if len(spec) > 1]
            split: dict[int, np.ndarray] = {}
            comps: set[str] = {BOUNDARY}
            for k, spec in compound:
                rows = [key.split(SEP) for key in self.vocabs[k]]
                if set(map(len, rows)) - {len(spec)}:
                    raise ValueError(
                        f"template {TEMPLATES[k][0]}: vocab keys do not split "
                        f"into {len(spec)} SEP-free parts"
                    )
                split[k] = np.array(rows, dtype=object).reshape(-1, len(spec))
                comps.update(split[k].ravel())
            comp_index = pd.Index(np.array(sorted(comps), dtype=object))
            B = len(comp_index) + 1
            p_max = max((len(spec) for _k, spec in compound), default=1)
            if B**p_max > 2**63:
                raise ValueError(f"compound keys overflow int64: {B}**{p_max}")
            compounds = {}
            for k, spec in compound:
                cids = comp_index.get_indexer(split[k].ravel()).astype(np.int64)
                cids = cids.reshape(split[k].shape)
                keys = np.zeros(len(cids), dtype=np.int64)
                for j in range(len(spec)):
                    keys = keys * B + cids[:, j]
                d0 = spec[0][0]
                pattern = tuple((d - d0, c) for d, c in spec)
                compounds[k] = (pattern, d0, pd.Index(keys))
            pad = max((abs(d) for _k, spec in compound for d, _c in spec), default=0)
            boundary_cid = int(comp_index.get_loc(BOUNDARY))
            self._ctab = (comp_index, B, boundary_cid, pad, compounds)
        return self._ctab

    def save(self, path: str) -> None:
        arrays: dict[str, np.ndarray] = {"trans": self.trans}
        for k, (vocab, w) in enumerate(zip(self.vocabs, self.weights)):
            vals = np.empty(len(vocab), dtype=object)
            for v, i in vocab.items():
                vals[i] = v
            arrays[f"vals_{k}"] = vals.astype("U")
            arrays[f"w_{k}"] = w.astype(np.float32)
        np.savez_compressed(path, **arrays)

    @classmethod
    def load(cls, path: str) -> "CrfModel":
        data = np.load(path, allow_pickle=False)
        vocabs, weights = [], []
        for k in range(len(TEMPLATES)):
            vals = data[f"vals_{k}"]
            vocabs.append({str(v): i for i, v in enumerate(vals)})
            weights.append(data[f"w_{k}"].astype(np.float32))
        return cls(vocabs, weights, data["trans"].astype(np.float32))

    # -- scoring ------------------------------------------------------------

    def emissions(self, cols: list, seq_ids: np.ndarray) -> np.ndarray:
        """(n, L) float64 emission scores for a batch of concatenated
        sequences (``seq_ids`` grouped: each sequence contiguous).

        ``cols`` is the kernel's form: entries 0-16 are ``(values, codes)``
        pairs sharing ONE ``codes`` array, where ``values`` holds the
        column's value per distinct batch token and the value at position t
        is ``values[codes[t]]``; entry 17 (INTERVAL_COL) is the per-position
        interval flag, factorized here into the same pair form.

        Accumulation follows ``templates.EVAL_PLAN`` in float64, the order
        the scalar oracle (oracle.scalar_emissions) uses, so both agree bit
        for bit:

        - ``group``/``single``: the item's templates share one offset d and
          one codes array. Each template's vocab rows are probed once per
          distinct column value, summed (ascending template order) into one
          (#values + 1, L) table whose last row is the boundary row, and
          expanded with a single length-n gather at the codes shifted by d.
        - ``multi``: see _compound_tables. Every column a compound reads is
          laid out as component ids with ``pad`` boundary ids on each side
          of every sequence, so a read at any offset |d| <= pad stays inside
          its own sequence or its padding. One factorized p-gram key array
          per relative pattern serves all templates sharing it; template k
          reads it at ``ext_pos + d0``.
        """
        n = len(seq_ids)
        # float64 accumulation — matches the scalar oracle (and Wapiti's C
        # doubles); float32 sums drift enough over 50+ templates and long
        # Viterbi chains to flip near-tie decodes on multi-thousand-token
        # sequences (caught by giant-doc fuzz)
        scores = np.zeros((n, N_LABELS), dtype=np.float64)
        # one reusable gather buffer: per-template temporaries were ~45% of
        # the scoring time (malloc + page faults)
        tmp = np.empty((n, N_LABELS), dtype=np.float64)
        token_codes = np.asarray(cols[0][1], dtype=np.int64)
        icodes, ivals = pd.factorize(cols[INTERVAL_COL])
        columns = [(values, token_codes) for values, _codes in cols[:INTERVAL_COL]]
        columns.append((ivals, icodes.astype(np.int64)))

        @functools.cache
        def distinct_values(c: int) -> tuple[np.ndarray, np.ndarray]:
            """Column c's per-value code into its distinct values, and those
            values — shapes and prefixes repeat across tokens, so each vocab
            probe runs over the smaller set."""
            cd, un = pd.factorize(pd.Series(columns[c][0]))
            return cd.astype(np.int64), np.asarray(un, dtype=object)

        comp_index, B, boundary_cid, pad, compounds = self._compound_tables()
        new_seq = np.ones(n, dtype=bool)
        new_seq[1:] = seq_ids[1:] != seq_ids[:-1]
        ext_pos = np.arange(n, dtype=np.int64) + pad * (2 * np.cumsum(new_seq) - 1)
        m_ext = n + 2 * pad * int(new_seq.sum())

        @functools.cache
        def padded_cids(c: int) -> np.ndarray:
            cd, un = distinct_values(c)
            cid = comp_index.get_indexer(un).astype(np.int64)
            cid[cid < 0] = B - 1  # unseen-token sentinel
            out = np.full(m_ext, boundary_cid, dtype=np.int64)
            out[ext_pos] = cid[cd][columns[c][1]]
            return out

        @functools.cache
        def gram(pattern: tuple) -> tuple[np.ndarray, np.ndarray, int]:
            """Factorized keys of ``pattern`` at every padded position i in
            [lo, hi) (digit j read at i + r_j), their distinct keys, and lo."""
            rel = [r for r, _c in pattern]
            lo, hi = -min(rel), m_ext - max(rel)
            key = padded_cids(pattern[0][1])[lo:hi].copy()
            for r, c in pattern[1:]:
                key *= B
                key += padded_cids(c)[lo + r : hi + r]
            inv, uk = pd.factorize(key)
            return inv.astype(np.int64), np.asarray(uk, dtype=np.int64), lo

        for item in EVAL_PLAN:
            if item[0] == "multi":
                k = item[1]
                pattern, d0, key_index = compounds[k]
                inv, uk, lo = gram(pattern)
                row = key_index.get_indexer(uk)
                row[row < 0] = len(self.vocabs[k])
                table = self.weights[k][row].astype(np.float64)
                np.take(table, inv[ext_pos + d0 - lo], axis=0, out=tmp)
                scores += tmp
                continue
            if item[0] == "group":
                _tag, d, members = item
            else:
                _tag, k, d, c = item
                members = ((k, c),)
            values, codes = columns[members[0][1]]
            table = np.zeros((len(values) + 1, N_LABELS), dtype=np.float64)
            for k, c in members:
                vocab, w = self.vocabs[k], self.weights[k]
                oov = len(vocab)
                cd, un = distinct_values(c)
                row = self._vocab_index(k).get_indexer(un)
                row[row < 0] = oov
                table[:-1] += w[row[cd]]
                table[-1] += w[vocab.get(BOUNDARY, oov)]
            np.take(table, shift_codes(codes, seq_ids, d), axis=0, out=tmp)
            scores += tmp
        return scores


# ---------------------------------------------------------------------------
# Viterbi — batched over many sequences at once
# ---------------------------------------------------------------------------


def viterbi_single(emit: np.ndarray, trans: np.ndarray) -> np.ndarray:
    """Scalar-path Viterbi for one sequence (used by training + oracle)."""
    T = emit.shape[0]
    if T == 0:
        return np.empty(0, dtype=np.int64)
    delta = emit[0].astype(np.float64).copy()
    psi = np.zeros((T, N_LABELS), dtype=np.int64)
    for t in range(1, T):
        cand = delta[:, None] + trans
        psi[t] = np.argmax(cand, axis=0)
        delta = cand[psi[t], np.arange(N_LABELS)] + emit[t]
    labels = np.empty(T, dtype=np.int64)
    labels[-1] = int(np.argmax(delta))
    for t in range(T - 1, 0, -1):
        labels[t - 1] = psi[t, labels[t]]
    return labels


def viterbi_batched(emit: np.ndarray, seq_ids: np.ndarray, trans: np.ndarray,
                    bucket_size: int = 512) -> np.ndarray:
    """Decode all sequences in a concatenated batch.

    Sequences are bucketed by length (after sorting) so padding waste stays
    bounded even with heavy document-length skew; within a bucket the DP runs
    as (S, L) numpy ops per time-step — python loops scale with max sequence
    length, not token count.
    """
    n = len(seq_ids)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # sequence boundaries (seq_ids grouped)
    change = np.flatnonzero(np.diff(seq_ids)) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [n]))
    lengths = ends - starts
    order = np.argsort(lengths, kind="stable")

    out = np.empty(n, dtype=np.int64)
    transT = trans.astype(np.float64)  # f64 accumulation, same as viterbi_single

    for b0 in range(0, len(order), bucket_size):
        idx = order[b0 : b0 + bucket_size]
        ls = lengths[idx]
        S = len(idx)
        Tmax = int(ls.max())
        # gather into (S, Tmax, L) padded tensor
        em = np.zeros((S, Tmax, N_LABELS), dtype=np.float64)
        for si, qi in enumerate(idx):
            em[si, : lengths[qi]] = emit[starts[qi] : ends[qi]]
        delta = em[:, 0, :].copy()  # (S, L)
        psi = np.zeros((S, Tmax, N_LABELS), dtype=np.int8)
        active_len = ls
        # unrolled 3-label max (N_LABELS is 3; load rejects other shapes):
        # cand[s,i,j] = delta[s,i] + trans[i,j], with argmax's first-max
        # tie-break reproduced by strict > comparisons (lower prev index
        # wins ties)
        t0c, t1c, t2c = transT[0], transT[1], transT[2]
        for t in range(1, Tmax):
            v0 = delta[:, 0:1] + t0c
            v1 = delta[:, 1:2] + t1c
            v2 = delta[:, 2:3] + t2c
            p01 = v1 > v0
            m01 = np.where(p01, v1, v0)
            best_prev = np.where(v2 > m01, 2, p01)
            best_score = np.maximum(m01, v2)
            new_delta = best_score + em[:, t, :]
            alive = (active_len > t)[:, None]
            delta = np.where(alive, new_delta, delta)
            psi[:, t, :] = best_prev
        last = delta.argmax(axis=1)  # (S,)
        # backtrack (vectorized across the bucket)
        labels_pad = np.zeros((S, Tmax), dtype=np.int64)
        cur = last
        t_idx = ls - 1
        labels_pad[np.arange(S), t_idx] = cur
        for t in range(Tmax - 1, 0, -1):
            active = t_idx >= t
            prev = psi[np.arange(S), t, cur]
            cur = np.where(active, prev, cur)
            pos = t - 1
            write = active
            labels_pad[np.arange(S)[write], pos] = cur[write]
        for si, qi in enumerate(idx):
            out[starts[qi] : ends[qi]] = labels_pad[si, : lengths[qi]]
    return out


# ---------------------------------------------------------------------------
# training — averaged structured perceptron (deterministic)
# ---------------------------------------------------------------------------


def build_vocabs(all_values: list[list[np.ndarray]]) -> list[dict]:
    """Observation vocabularies per template from training sequences."""
    vocabs: list[dict] = []
    for k in range(len(TEMPLATES)):
        vocab: dict = {}
        for values in all_values:
            for v in values[k]:
                if v not in vocab:
                    vocab[v] = len(vocab)
        vocabs.append(vocab)
    return vocabs


def train_perceptron(
    sequences: list[tuple[list[np.ndarray], np.ndarray]],
    n_iter: int = 8,
    seed: int = 42,
) -> CrfModel:
    """``sequences``: per sequence, (feature columns list, gold label array).

    Averaged structured perceptron with Viterbi decoding; deterministic
    shuffling with the given seed.
    """
    per_seq_values: list[list[np.ndarray]] = []
    golds: list[np.ndarray] = []
    for cols, gold in sequences:
        sid = np.zeros(len(gold), dtype=np.int64)
        per_seq_values.append(template_values(cols, sid))
        golds.append(np.asarray(gold, dtype=np.int64))

    vocabs = build_vocabs(per_seq_values)
    # pre-map values to ids (OOV row never used in training)
    per_seq_ids = [
        [np.array([vocabs[k][v] for v in vals[k]], dtype=np.int64) for k in range(len(TEMPLATES))]
        for vals in per_seq_values
    ]

    weights = [np.zeros((len(v) + 1, N_LABELS), dtype=np.float64) for v in vocabs]
    acc = [np.zeros_like(w) for w in weights]
    trans = np.zeros((N_LABELS, N_LABELS), dtype=np.float64)
    trans_acc = np.zeros_like(trans)
    c = 1

    rng = np.random.default_rng(seed)
    order = np.arange(len(sequences))
    for _epoch in range(n_iter):
        rng.shuffle(order)
        for qi in order:
            ids_k = per_seq_ids[qi]
            gold = golds[qi]
            T = len(gold)
            emit = np.zeros((T, N_LABELS), dtype=np.float64)
            for k in range(len(TEMPLATES)):
                emit += weights[k][ids_k[k]]
            pred = viterbi_single(emit, trans)
            if not np.array_equal(pred, gold):
                diff = pred != gold
                pos = np.flatnonzero(diff)
                for k in range(len(TEMPLATES)):
                    ids = ids_k[k]
                    np.add.at(weights[k], (ids[pos], gold[pos]), 1.0)
                    np.add.at(weights[k], (ids[pos], pred[pos]), -1.0)
                    np.add.at(acc[k], (ids[pos], gold[pos]), float(c))
                    np.add.at(acc[k], (ids[pos], pred[pos]), -float(c))
                if T > 1:
                    gb = np.ravel_multi_index((gold[:-1], gold[1:]), trans.shape)
                    pb = np.ravel_multi_index((pred[:-1], pred[1:]), trans.shape)
                    np.add.at(trans.ravel(), gb, 1.0)
                    np.add.at(trans.ravel(), pb, -1.0)
                    np.add.at(trans_acc.ravel(), gb, float(c))
                    np.add.at(trans_acc.ravel(), pb, -float(c))
            c += 1

    avg_w = [
        (w - a / float(c)).astype(np.float32) for w, a in zip(weights, acc)
    ]
    avg_t = (trans - trans_acc / float(c)).astype(np.float32)
    return CrfModel(vocabs, avg_w, avg_t)


def train_logistic(
    sequences: list[tuple[list[np.ndarray], np.ndarray]],
    n_iter: int = 10,
    seed: int = 42,
    lr: float = 0.5,
) -> CrfModel:
    """SECOND scorer family behind the same broadcast/decode interface.

    The reference swaps its sequence scorer by config (wapiti CRF ↔ delft
    BiLSTM, /root/reference/resources/config/grobid-astro.yaml:7-8,14-19)
    while the calling pipeline is unchanged. This is our equivalent plug:
    per-token multinomial logistic regression (maxent) over the SAME
    factorized feature templates — full-batch softmax/cross-entropy
    gradient steps, deterministic (no sampling, fixed iteration order) —
    with the transition matrix fixed to add-1-smoothed gold-bigram
    log-probabilities (a generative prior) instead of discriminatively
    learned scores. The artifact is CrfModel-shaped (vocabs/weights/trans),
    so ``emissions`` + ``viterbi_batched`` and the broadcast payload work
    unchanged; only the training family differs.
    """
    del seed  # deterministic without randomness: full-batch, fixed order
    per_seq_values: list[list[np.ndarray]] = []
    golds: list[np.ndarray] = []
    for cols, gold in sequences:
        sid = np.zeros(len(gold), dtype=np.int64)
        per_seq_values.append(template_values(cols, sid))
        golds.append(np.asarray(gold, dtype=np.int64))
    vocabs = build_vocabs(per_seq_values)
    ids_all = [
        np.concatenate(
            [
                np.array([vocabs[k][v] for v in vals[k]], dtype=np.int64)
                for vals in per_seq_values
            ]
        )
        for k in range(len(TEMPLATES))
    ]
    y = np.concatenate(golds)
    n = len(y)
    onehot = np.zeros((n, N_LABELS), dtype=np.float64)
    onehot[np.arange(n), y] = 1.0

    weights = [np.zeros((len(v) + 1, N_LABELS), dtype=np.float64) for v in vocabs]
    for epoch in range(n_iter):
        emit = np.zeros((n, N_LABELS), dtype=np.float64)
        for k in range(len(TEMPLATES)):
            emit += weights[k][ids_all[k]]
        emit -= emit.max(axis=1, keepdims=True)
        p = np.exp(emit)
        p /= p.sum(axis=1, keepdims=True)
        grad = (p - onehot) * (lr / (1.0 + 0.02 * epoch))
        for k in range(len(TEMPLATES)):
            np.subtract.at(weights[k], ids_all[k], grad)

    # generative transition prior from gold bigrams (add-1 smoothing)
    counts = np.ones((N_LABELS, N_LABELS), dtype=np.float64)
    for g in golds:
        if len(g) > 1:
            np.add.at(counts, (g[:-1], g[1:]), 1.0)
    trans = np.log(counts / counts.sum(axis=1, keepdims=True))
    return CrfModel(
        vocabs,
        [w.astype(np.float32) for w in weights],
        trans.astype(np.float32),
    )

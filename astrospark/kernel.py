"""Vectorized extraction kernel — the Arrow-batch hot path for Spark.

Processes a whole Arrow RecordBatch of interleaved documents at once:
processing units are cut from the spans' list offsets and struct children
with pyarrow.compute (no per-span Python), tokenization runs as one
vectorized megastring pass with arrow-side dedup (analyzer.tokenize_spans),
feature columns via pandas str ops, emission scoring via per-template id
maps + dense weight-table gathers, Viterbi batched across every sequence in
the batch, and cluster/offset assembly from cumulative-sum char positions;
output rows are ordered by one Arrow sort. Per-document Python is limited
to a per-CLUSTER (not per-token) offset walk that replicates the
reference's pos arithmetic (grobid-astro AstroParser.java:677-748),
including its quirks (leading-space double-advance, one-shot trailing
trims) — fuzz-checked token-for-token against the scalar oracle
(oracle.py) in tests/test_kernel_vs_oracle.py.

Line-split equivalence note: the reference splits the TOKEN stream of
table/figure chunks on "\\n" tokens (AstroParser.java:314-352); since
"\\n" is a delimiter that always forms its own token, splitting the TEXT
on "\\n" and tokenizing each line yields identical line token lists —
that is what lets the kernel keep tokenization fully vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from astrospark.analyzer import tokenize_spans
from astrospark.crf import CrfModel, viterbi_batched
from astrospark.features import compute_columns
from astrospark.lexicon import _WS_TOKENS, flatten_trie
from astrospark.oracle import LINE_KINDS, TEXT_KINDS
from astrospark.templates import LABEL_BEGIN, LABEL_OTHER
from astrospark.unicode_norm import NORMALIZE_TABLE

_STR, _INT = pa.string(), pa.int32()
# the docs table (io.sources.DOCS_SCHEMA_DDL) as the kernel's Arrow input
_SPAN = pa.struct([("kind", _STR), ("text", _STR), ("media_ref", _STR), ("offset", _INT)])
DOCS_SCHEMA = pa.schema([("doc_id", _STR), ("spans", pa.list_(_SPAN))])
# `end` (exclusive char end) is internal: the engine uses it to re-rank
# split-document output exactly like the in-batch sort, then drops it.
OUTPUT_SCHEMA = pa.schema(
    [("doc_id", _STR), ("seq", _INT), ("kind", _STR), ("text", _STR),
     ("media_ref", _STR), ("offset", _INT), ("end", _INT)]
)
OUTPUT_COLUMNS = tuple(OUTPUT_SCHEMA.names)
# ordering invariant: (offset, offset_end) per AstroEntity.compareTo with
# deterministic tie-breaks; seq = dense rank within doc (oracle.py)
_ORDER_KEYS = [(k, "ascending") for k in ("di", "offset", "end", "kind", "text", "media_ref")]

_TEXT_KINDS = pa.array(sorted(TEXT_KINDS))
_LINE_KINDS = pa.array(sorted(LINE_KINDS))
# java String.trim() strips every char <= 0x20 (oracle.java_trim)
_JAVA_TRIM_CHARS = "".join(map(chr, range(0x21)))


def _control_only_mask(norm: pd.Series) -> np.ndarray:
    """True where the normalized token java-trims to '' (skip it)."""
    return norm.str.fullmatch("[\\x00-\\x20]*").to_numpy()


def _to_numpy(arr: pa.Array) -> np.ndarray:
    """Arrow array → numpy (bool masks, object arrays of str)."""
    return arr.to_numpy(zero_copy_only=False)


def extract_batch(batch, vocab, trie, model: CrfModel) -> pd.DataFrame:
    """doc_id + spans batch → ordered output span rows (see OUTPUT_COLUMNS).

    ``batch`` is a ``pa.RecordBatch`` of DOCS_SCHEMA; a pandas frame of the
    same columns is converted to one first."""
    if isinstance(batch, pd.DataFrame):
        batch = pa.RecordBatch.from_pandas(batch, schema=DOCS_SCHEMA, preserve_index=False)
    spans = batch.column("spans")
    flat = spans.flatten()  # one struct per span, in span order
    fields = dict(zip((f.name for f in flat.type), flat.flatten()))
    kind = fields["kind"]
    text = fields["text"].fill_null("")
    media_ref = fields["media_ref"].fill_null("")
    offset = fields["offset"].fill_null(0).to_numpy().astype(np.int64)
    span_doc = pc.list_parent_indices(spans).to_numpy().astype(np.int64)

    # text kinds: one unit per non-blank span (commons-lang isBlank), with
    # '\n' and '\t' read as spaces
    is_text = _to_numpy(pc.is_in(kind, value_set=_TEXT_KINDS))
    is_line = _to_numpy(pc.is_in(kind, value_set=_LINE_KINDS))
    t_idx = np.flatnonzero(is_text)
    t_text = text.take(t_idx)
    blank = pc.or_(pc.equal(pc.utf8_length(t_text), 0), pc.utf8_is_space(t_text))
    keep = ~_to_numpy(blank)
    t_idx = t_idx[keep]
    t_text = t_text.filter(pa.array(keep))
    t_text = pc.replace_substring(pc.replace_substring(t_text, "\n", " "), "\t", " ")
    # line kinds: one unit per non-empty '\n'-split line — token-stream-
    # equivalent (see module doc) — at the line's char position in its span
    l_idx = np.flatnonzero(is_line)
    lines = pc.split_pattern(text.take(l_idx), "\n")
    line_text = lines.flatten()
    line_span = pc.list_parent_indices(lines).to_numpy()
    step = pc.utf8_length(line_text).to_numpy().astype(np.int64) + 1
    line_pos = np.cumsum(step) - step
    line_pos -= line_pos[lines.offsets.to_numpy()[:-1]][line_span]
    keep = step > 1
    l_unit_span = l_idx[line_span[keep]]
    # unit order: span order, then line order
    unit_span = np.concatenate((t_idx, l_unit_span))
    order = np.argsort(unit_span, kind="stable")
    unit_texts = pa.concat_arrays([t_text, line_text.filter(pa.array(keep))])
    unit_texts = _to_numpy(unit_texts.take(order))  # object array of str
    unit_span = unit_span[order]
    unit_base = np.concatenate((offset[t_idx], offset[l_unit_span] + line_pos[keep]))[order]

    e_unit, e_raw, e_lo, e_hi = _process_units(unit_texts, vocab, trie, model)
    e_unit = np.asarray(e_unit, dtype=np.int64)
    e_base = unit_base[e_unit]

    # passthrough spans and entities, ordered in one Arrow sort
    p_idx = np.flatnonzero(~is_text & ~is_line)
    n_obj = len(e_unit)
    rows = pa.table(
        {
            "di": np.concatenate((span_doc[p_idx], span_doc[unit_span[e_unit]])),
            "offset": np.concatenate((offset[p_idx], e_base + np.asarray(e_lo, dtype=np.int64))),
            "end": np.concatenate((offset[p_idx], e_base + np.asarray(e_hi, dtype=np.int64))),
            "kind": pa.concat_arrays(
                [kind.take(p_idx), pa.repeat(pa.scalar("object", kind.type), n_obj)]
            ),
            "text": pa.concat_arrays(
                [
                    text.take(p_idx),
                    pc.utf8_trim(pa.array(e_raw, type=text.type), characters=_JAVA_TRIM_CHARS),
                ]
            ),
            "media_ref": pa.concat_arrays(
                [media_ref.take(p_idx), pa.repeat(pa.scalar("", media_ref.type), n_obj)]
            ),
        }
    )
    rows = rows.take(pc.sort_indices(rows, sort_keys=_ORDER_KEYS))
    di = rows.column("di").to_numpy()
    n = len(di)
    first = np.ones(n, dtype=bool)
    first[1:] = di[1:] != di[:-1]
    at = np.arange(n)
    seq = at - np.maximum.accumulate(np.where(first, at, 0))
    return pa.table(
        {
            "doc_id": batch.column("doc_id").take(di),
            "seq": seq.astype(np.int32),
            "kind": rows.column("kind"),
            "text": rows.column("text"),
            "media_ref": rows.column("media_ref"),
            "offset": rows.column("offset").to_numpy().astype(np.int32),
            "end": rows.column("end").to_numpy().astype(np.int32),
        }
    ).to_pandas()


def _process_units(unit_texts, vocab, trie, model):
    """Label all units' tokens in one vectorized pass, then assemble
    entities with the per-cluster offset walk. Returns per entity its
    unit, untrimmed raw text, and [start, end) char offsets in the unit."""
    n_units = len(unit_texts)
    # batch tokenization: one megastring pass + arrow dictionary encode
    # (analyzer.tokenize_spans) — the unique-token fast path: every
    # per-token quantity that is a function of the token STRING (length,
    # eligibility, normalization, feature cols 0-16, dictionary flag) is
    # computed once per DISTINCT token and reached by integer gather —
    # natural text repeats tokens ~30-100x per batch, so the string work
    # drops by that factor
    batch = tokenize_spans(unit_texts)
    tok_codes = batch.codes
    n = len(tok_codes)
    if n == 0:
        return [], [], [], []
    unit_ids = batch.unit_ids
    counts = np.bincount(unit_ids, minlength=n_units)
    unit_starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    uniq_ser = batch.uniq
    uniq_arr = uniq_ser.to_numpy(dtype=object)

    # char positions: tokens tile the text exactly
    tok_len = batch.tok_len
    char_start = batch.char_start
    char_end = char_start + tok_len

    # gazetteer interval flags (J2) — level-synchronous VECTORIZED trie
    # descent over the flattened integer trie (lexicon.flatten_trie):
    # alphabet ids resolve once per DISTINCT token, root hits come from a
    # dense gather, and each depth level advances every still-active
    # candidate with one hash probe + gathers (the python per-candidate
    # walk did ~100k dict.gets per 3k-doc batch). Greedy longest-match /
    # ws-skip semantics are identical to the scalar matcher
    # (lexicon.match_positions, fuzz- and golden-checked via the oracle
    # suite); the restart-after-match rule is applied afterwards in a
    # tiny sequential pass over matches only — sound because each
    # candidate's descent is independent, so discarding matches that
    # start inside an earlier accepted match reproduces the scan order.
    in_interval = np.zeros(n, dtype=bool)
    u_ws = uniq_ser.isin(_WS_TOKENS).to_numpy(dtype=bool)
    alph, A, root_child, trans_index, trie_children, trie_is_end = flatten_trie(trie)
    u_alph = alph.get_indexer(uniq_arr).astype(np.int64)
    # alphabet id -1 (token on no trie edge) reads the appended "no child"
    # entry, which also covers an empty gazetteer (A == 0, no descent)
    u_first = np.append(root_child, -1)[u_alph]
    first_child = u_first[tok_codes]
    cand_idx = np.flatnonzero(first_child >= 0)
    if len(cand_idx):
        unit_ends = unit_starts + counts
        cand_end = unit_ends[
            np.searchsorted(unit_starts, cand_idx, side="right") - 1
        ]
        ws = u_ws[tok_codes]
        tok_alph = u_alph[tok_codes]
        # nns[j] = smallest non-ws index >= j (n when none): suffix min
        nns = np.minimum.accumulate(
            np.where(~ws, np.arange(n, dtype=np.int64), n)[::-1]
        )[::-1]
        nns = np.append(nns, np.int64(n))  # sentinel for j == n

        cur = first_child[cand_idx]
        last_end = np.where(trie_is_end[cur], cand_idx, np.int64(-1))
        pos = nns[np.minimum(cand_idx + 1, n)]
        active = np.flatnonzero(pos < cand_end)
        while len(active):
            p = pos[active]
            ta = tok_alph[p]
            ok = ta >= 0
            row = trans_index.get_indexer(
                cur[active] * A + np.maximum(ta, 0)
            )
            ok &= row >= 0
            adv = active[ok]
            nxt_nodes = trie_children[row[ok]]
            cur[adv] = nxt_nodes
            hit = trie_is_end[nxt_nodes]
            last_end[adv[hit]] = p[ok][hit]
            pos[adv] = nns[np.minimum(p[ok] + 1, n)]
            active = adv[pos[adv] < cand_end[adv]]

        covered = -1
        starts_l = cand_idx.tolist()
        ends_l = last_end.tolist()
        for i, le in zip(starts_l, ends_l):
            if le < 0 or i <= covered:
                continue
            in_interval[i : le + 1] = True
            covered = le

    # eligibility (AstroParser.addFeatures:632-642) — per unique token
    is_space = (uniq_arr == " ")[tok_codes]
    uniq_norm = uniq_ser.str.translate(NORMALIZE_TABLE).astype("string[pyarrow]")
    u_eligible = (
        (uniq_arr != " ") & (uniq_arr != "\n") & ~_control_only_mask(uniq_norm)
    )
    eligible = u_eligible[tok_codes]

    elig_idx = np.flatnonzero(eligible)
    labels = np.zeros(n, dtype=np.int64)
    if len(elig_idx):
        el_codes = tok_codes[elig_idx]
        u_astro = uniq_ser.isin(vocab).to_numpy(dtype=bool)
        ucols = compute_columns(uniq_norm, u_astro, None)
        cols: list = [(ucols[c], el_codes) for c in range(17)]
        cols.append((np.array(["0", "1"], dtype=object), in_interval[elig_idx].astype(np.int64)))
        seq_ids = unit_ids[elig_idx]
        emit = model.emissions(cols, seq_ids)
        labels[elig_idx] = viterbi_batched(emit, seq_ids, model.trans)

    # cluster boundaries over eligible tokens (TaggingTokenClusteror
    # semantics): begin-label or core change or unit start
    elig_unit = unit_ids[elig_idx] if len(elig_idx) else np.empty(0, dtype=np.int64)
    elig_labels = labels[elig_idx] if len(elig_idx) else np.empty(0, dtype=np.int64)
    cores = (elig_labels != LABEL_OTHER).astype(np.int8)
    if len(elig_idx):
        first_of_unit = np.concatenate(([True], elig_unit[1:] != elig_unit[:-1]))
        begins = (
            first_of_unit
            | (elig_labels == LABEL_BEGIN)
            | np.concatenate(([True], cores[1:] != cores[:-1]))
        )
        cluster_first = np.flatnonzero(begins)  # indices into elig arrays
        # skip-all-units-without-objects fast path
        has_obj_unit = set(elig_unit[cores.astype(bool)].tolist())
    else:
        cluster_first = np.empty(0, dtype=np.int64)
        has_obj_unit = set()

    # group clusters per unit — cf_units is nondecreasing, so each obj
    # unit's cluster slice comes from two binary searches; units without
    # object labels (the vast majority on real corpora) are never visited
    # (the previous linear advance walked every cluster of every unit)
    cf_units = (
        elig_unit[cluster_first] if len(cluster_first) else np.empty(0, dtype=np.int64)
    )
    obj_units = np.fromiter(
        sorted(has_obj_unit), dtype=np.int64, count=len(has_obj_unit)
    )
    unit_lo = np.searchsorted(cf_units, obj_units, side="left")
    unit_hi = np.searchsorted(cf_units, obj_units, side="right")

    # per-cluster metadata, vectorized over ALL clusters at once (the
    # python walk below then runs on plain-int lists — only the
    # sequential `pos` chain and the text char probes stay per-cluster):
    #   g_ts / g_te — global token range [ts, te): unit start for the
    #   unit's first cluster (the reference walks from position 0), else
    #   this cluster's first eligible token; te = next cluster's first
    #   eligible token while in the same unit, else the unit end
    ncl = len(cluster_first)
    if ncl:
        first_cl = np.empty(ncl, dtype=bool)
        first_cl[0] = True
        first_cl[1:] = cf_units[1:] != cf_units[:-1]
        nxt_first = np.empty(ncl, dtype=np.int64)
        if ncl > 1:
            nxt_first[:-1] = elig_idx[cluster_first[1:]]
        nxt_first[-1] = 0  # overwritten by the unit-end branch below
        last_cl = np.empty(ncl, dtype=bool)
        last_cl[:-1] = first_cl[1:]
        last_cl[-1] = True
        u_end = unit_starts[cf_units] + counts[cf_units]
        g_te_a = np.where(last_cl, u_end, nxt_first)
        g_ts_a = np.where(first_cl, unit_starts[cf_units], elig_idx[cluster_first])
        span_a = np.where(
            g_te_a > g_ts_a,
            char_end[np.maximum(g_te_a - 1, 0)] - char_start[g_ts_a],
            0,
        )
        # leading literal ' ' tokens (start-skip) — only possible for the
        # first cluster of the unit: run length of space tokens from the
        # unit start, found with one searchsorted over non-space positions
        n_lead_a = np.zeros(ncl, dtype=np.int64)
        f_idx = np.flatnonzero(first_cl & is_space[g_ts_a])
        if len(f_idx):
            nonspace = np.flatnonzero(~is_space)
            if len(nonspace):
                ins = np.searchsorted(nonspace, g_ts_a[f_idx])
                nxt_ns = np.where(
                    ins < len(nonspace),
                    nonspace[np.minimum(ins, len(nonspace) - 1)],
                    n,
                )
            else:
                nxt_ns = np.full(len(f_idx), n, dtype=np.int64)
            n_lead_a[f_idx] = np.minimum(nxt_ns, g_te_a[f_idx]) - g_ts_a[f_idx]
        cs_l = char_start[g_ts_a].tolist()
        ce_l = char_end[np.maximum(g_te_a - 1, 0)].tolist()
        span_l = span_a.tolist()
        n_lead_l = n_lead_a.tolist()
        core_l = cores[cluster_first].astype(bool).tolist()

    e_unit: list[int] = []
    e_raw: list[str] = []
    e_lo: list[int] = []
    e_hi: list[int] = []
    for ui, lo, hi in zip(obj_units.tolist(), unit_lo.tolist(), unit_hi.tolist()):
        if lo >= hi:
            continue
        text = unit_texts[ui]
        L = len(text)

        pos = 0
        for j in range(lo, hi):
            # verbatim pos walk (AstroParser.java:700-723), cluster-level
            if pos < L - 1 and text[pos] == " ":
                pos += 1
            if pos < L - 1 and text[pos] == "\n":
                pos += 1
            nl = n_lead_l[j]
            pos += nl
            end_pos = pos + (span_l[j] - nl)
            if end_pos > 0 and L >= end_pos and text[end_pos - 1] == "\n":
                end_pos -= 1
            if end_pos > 0 and L >= end_pos and text[end_pos - 1] == " ":
                end_pos -= 1
            if core_l[j]:
                e_unit.append(ui)
                e_raw.append(text[cs_l[j] : ce_l[j]])  # java-trimmed by the caller
                e_lo.append(pos)
                e_hi.append(end_pos)
            pos = end_pos
    return e_unit, e_raw, e_lo, e_hi

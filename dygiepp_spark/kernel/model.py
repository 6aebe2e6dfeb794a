"""Per-document forward + decode — the shared kernel.

One pure-numpy function (`decode_document`) implements SURVEY.md §2.8
M1–M10 and the §2.9 decode contract. It is called verbatim by BOTH:

  (a) the single-process oracle decoder (kernel/oracle.py) — the
      stand-in for ``allennlp predict`` (ref:dygie/predictors/
      dygie.py::DyGIEPredictor -> per-module ``decode``), and
  (b) the Spark ``mapInPandas`` extraction operator
      (operators/extract.py),

so triple parity between Spark and the oracle holds by construction
(SURVEY.md §7 design rule). Determinism: float32, fixed reduction
order, stable sorts, explicit tie-breaks (score desc, start asc,
end asc) — required for decode parity across partitionings
(SURVEY.md §4.3).

Stage map (reference anchors in SURVEY.md §2.8):
  M1  contextual encode          — wordpiece mean-pool + 2-layer
                                   overlapping-window self-attention
  M2  span enumeration (W≤8)     — kernel/spans.py
  M3  span repr [h_s; h_e; w]    — EndpointSpanExtractor semantics
  M4  mention score + beam (W1)  — ref entity_beam_pruner.py::Pruner
  M5  graph propagation (T=2)    — ref coref.py::coref_propagation
  M6  biaffine NER               — ref ner.py::NERTagger [BASELINE]
  M7  biaffine relations         — ref relation.py::RelationExtractor
  M8  trigger scorer             — ref events.py::EventExtractor
  M9  biaffine arguments         — ref events.py (AdjacencyFieldAssym)
  M10 coref antecedent decode    — ref coref.py::CorefResolver
"""

from __future__ import annotations

import math
import re

import numpy as np

from dygiepp_spark import config as C
from dygiepp_spark.kernel import nn
from dygiepp_spark.kernel.spans import enumerate_spans, width_buckets
from dygiepp_spark.kernel.tokenize import split_sentences

F32 = np.float32
ANTECEDENT_WINDOW = 50  # top-K antecedent cap (ref coref max_antecedents)

# Memory-bounding block sizes. Web pages can be arbitrarily long; every
# stage whose naive form is O(k^2) or O(S*L*H) memory is computed in
# fixed-size blocks so per-document peak memory is bounded regardless
# of document length (compute stays the same; the banded antecedent
# window additionally caps propagation compute at O(k*window)).
PROP_BLOCK = 512     # propagation row-block
SPAN_BLOCK = 8192    # NER span-block
PAIR_BLOCK = 768     # max pruned spans per sentence-group for M7/M9


def _encode(tokens: list[str], w: dict) -> np.ndarray:
    """M1 + X3: wordpiece token encoding + sliding-window multi-head
    self-attention. Each token is greedily segmented into wordpieces
    (kernel/wordpiece.py — the BERT algorithm with byte fallback over
    a pinned vocab) and its embedding is the VARIANCE-PRESERVING mean
    of its piece embeddings (mean * sqrt(k): a plain mean shrinks
    embedding variance by 1/k, which at fixed null-bias weights
    collapses decode sparsity for many-piece tokens) — the
    reference's wordpiece->word alignment (SURVEY §2.7 X3, AllenNLP
    mismatched indexer/embedder). Context then comes from
    _self_attend: BERT-style windowed attention (replaces the round-2
    3-gram mixer; crosses sentence boundaries within a window — the
    paper's cross-sentence encoding [PAPER], SURVEY §2.8 M1 /
    ref:DyGIE.forward transformer embedder)."""
    pe = w["piece_emb"]
    if not tokens:
        emb = np.zeros((0, pe.shape[1]), F32)
    else:
        # pool each DISTINCT token once, then index by occurrence —
        # crawl text is Zipf-distributed, so this cuts M1's gather+
        # reduce work by the repeat factor (bit-identical: the same
        # float ops run once per unique token instead of per use).
        # The pool cache is WORKER-LEVEL (not per-document): common
        # tokens repeat across documents far more than within one, so
        # segmentation (pure-python string work, the hot cost) and
        # pooling run once per token per worker lifetime; bounded to
        # _POOL_CACHE_MAX entries (vocab-sized memory, cleared whole —
        # an LRU would cost more than repooling).
        pooled = _pooled_cache(pe)
        if len(pooled) > _POOL_CACHE_MAX:
            pooled.clear()
        from dygiepp_spark.kernel.wordpiece import wordpiece_ids
        for t in tokens:
            if t not in pooled:
                pids = wordpiece_ids(t)
                pooled[t] = (pe[list(pids)].mean(axis=0)
                             * np.sqrt(F32(len(pids))))
        emb = np.vstack([pooled[t] for t in tokens]).astype(F32)
    return _self_attend(emb, w)


# ~400 B/entry real cost (32-float ndarray object + dict slot + str
# key), so the cap bounds the cache at ~20 MB per python worker; the
# Zipf head of any corpus fits far below it. Whole-clear at the cap
# is deliberate: an LRU's bookkeeping costs more than repooling the
# hot head once per (rare) clear.
_POOL_CACHE_MAX = 50_000
_POOL_CACHE: dict = {"pe": None, "pool": {}}


def _pooled_cache(pe: np.ndarray) -> dict:
    """Token->pooled-embedding cache bound to ONE weight table: the
    cache holds a reference to `pe` and compares by identity, so a
    different broadcast archive resets it and a freed table's address
    can never be re-used to serve stale vectors (holding the
    reference pins the array alive while its cache exists)."""
    if _POOL_CACHE["pe"] is not pe:
        _POOL_CACHE["pe"] = pe
        _POOL_CACHE["pool"] = {}
    return _POOL_CACHE["pool"]


def _self_attend(emb: np.ndarray, w: dict) -> np.ndarray:
    """Sliding-window multi-head self-attention encoder (M1): the
    token stream is chunked into OVERLAPPING C.ATTN_WINDOW-token
    windows strided by W/2 (the BERT max_length + stride convention
    the reference's mismatched transformer embedder applies to long
    documents), through TWO pre-LN transformer blocks of
    LayerNorm -> scaled-dot-product attention (C.ATTN_HEADS heads,
    learned positions) -> residual -> LayerNorm -> 4x-expansion GELU
    FFN -> residual, then a final output LayerNorm.
    Each token's output is taken from the window where it is most
    central (fixed core regions [W/4, 3W/4) tiling the stride), so
    every interior token sees a full half-window of context on BOTH
    sides — no hard context cliff at window boundaries. All windows
    are batched into ONE set of [n_win, heads, W, *] matmuls per
    layer, so per-document cost is O(n · W · H · layers) with bounded
    peak memory — a 20k-token page is 625 windows, ~40 MB of scores.

    Remaining simplification vs a full BERT (documented seam, same
    _encode signature the TorchScript swap replaces): 2 layers, not
    12 — the block SHAPE now matches (pre-LN residual attention +
    4x GELU FFN); the trailing LN's fixture gain re-pins the feature
    scale the null-bias decode calibration assumes.
    Deterministic: float32, fixed reduction order,
    window boundaries and core assignment depend only on token
    positions — identical across partitionings.
    """
    n, h = emb.shape
    if n == 0:
        return emb
    win = C.ATTN_WINDOW
    stride = win // 2
    heads = C.ATTN_HEADS
    hd = h // heads
    n_win = 1 if n <= win else int(math.ceil((n - win) / stride)) + 1
    total = (n_win - 1) * stride + win
    x_pad = emb if total == n else np.vstack(
        [emb, np.zeros((total - n, h), F32)])
    # idx[k, j] = global position of window k's j-th slot
    idx = (np.arange(n_win)[:, None] * stride
           + np.arange(win)[None, :])
    x = (x_pad[idx] + w["pos_emb"][None, :, :]).astype(F32)
    key_pad = idx >= n                        # [n_win, W] pad mask

    def split(m: np.ndarray) -> np.ndarray:
        # [n_win, W, h] -> [n_win, heads, W, hd]
        return m.reshape(n_win, win, heads, hd).transpose(0, 2, 1, 3)

    for suf in ("", "2"):
        blk = "1" if suf == "" else "2"
        xn = nn.layer_norm(x, w[f"ln_a{blk}_g"], w[f"ln_a{blk}_b"])
        q = split(xn @ w[f"attn_q{suf}"])
        k = split(xn @ w[f"attn_k{suf}"])
        v = split(xn @ w[f"attn_v{suf}"])
        sc = (q @ k.transpose(0, 1, 3, 2)) / np.sqrt(F32(hd))
        # mask padded KEY positions (tail windows only); padded query
        # rows never land in a core region, so their values are moot
        sc = np.where(key_pad[:, None, None, :], F32(-1e9), sc)
        p = nn.softmax(sc, axis=-1)           # [n_win, heads, W, W]
        a = (p @ v).transpose(0, 2, 1, 3).reshape(n_win, win, h)
        x = (x + a @ w[f"attn_o{suf}"]).astype(F32)
        # pre-LN residual FFN with 4x expansion + GELU (M1 fidelity
        # step 3) — the standard transformer sublayer shape
        fn = nn.layer_norm(x, w[f"ln_f{blk}_g"], w[f"ln_f{blk}_b"])
        hmid = nn.gelu(fn @ w[f"ffn{blk}_w1"] + w[f"ffn{blk}_b1"])
        x = (x + hmid @ w[f"ffn{blk}_w2"]
             + w[f"ffn{blk}_b2"]).astype(F32)

    # final output LayerNorm: residual sublayers leave x unbounded,
    # so this re-pins the feature scale (gain OUT_LN_GAIN, see
    # weights.py) that the null-bias decode calibration assumes
    x = nn.layer_norm(x, w["ln_out_g"], w["ln_out_b"])

    # core gather: token i comes from window clip((i - W/4) // S)
    pos = np.arange(n)
    k_of = np.clip((pos - win // 4) // stride, 0, n_win - 1)
    return x[k_of, pos - k_of * stride]


def _beam_keep(scores: np.ndarray, starts: np.ndarray, ends: np.ndarray,
               sent_ids: np.ndarray, sent_lens: list[int],
               frac: float) -> np.ndarray:
    """W1: per-sentence top-⌈frac·n_tokens⌉ by mention score with the
    mandatory deterministic tie-break (score desc, start asc, end asc).
    Returns a boolean keep-mask over spans (which are already in
    (sent_id, start, end) order)."""
    keep = np.zeros(len(scores), dtype=bool)
    for sid, slen in enumerate(sent_lens):
        idx = np.nonzero(sent_ids == sid)[0]
        if idx.size == 0:
            continue
        k = min(idx.size, int(math.ceil(frac * slen)))
        # lexsort: last key is primary -> (-score, start, end)
        order = np.lexsort((ends[idx], starts[idx], -scores[idx]))
        keep[idx[order[:k]]] = True
    return keep


def _propagate(g: np.ndarray, mention_scores: np.ndarray,
               w: dict, iters: int
               ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """M5: T iterations of gated span-graph propagation
    g_i ← f ⊙ g_i + (1−f) ⊙ Σ_j P_ij g_j with P from normalized
    antecedent scores (j strictly earlier, window-capped, dummy ε=0).

    Computed in row-blocks over the banded antecedent window, so peak
    memory is O(PROP_BLOCK · window) and compute O(k · window) — long
    documents cannot blow up. Synchronous update (all rows read the
    pre-iteration g).

    Returns (updated g, best_antecedent [k] (−1 = dummy/new cluster),
    best_score [k]) — the W3 decode computed from the LAST iteration's
    pre-update scores, matching the reference's decode-on-final-scores
    order (ref:dygie/models/coref.py::CorefResolver).
    """
    k = g.shape[0]
    best = np.full(k, -1, dtype=np.int64)
    best_sc = np.zeros(k, dtype=F32)
    if k == 0:
        return g, best, best_sc
    win = ANTECEDENT_WINDOW
    n_iters = max(iters, 1)
    for it in range(n_iters):
        g_old = g
        gu = (g_old.astype(F32) @ w["cor_u"])           # [k, D]
        new_g = np.empty_like(g_old)
        last = it == n_iters - 1
        for i0 in range(0, k, PROP_BLOCK):
            i1 = min(i0 + PROP_BLOCK, k)
            lo = max(0, i0 - win)
            raw = gu[i0:i1] @ g_old[lo:i1].T            # [b, i1-lo]
            raw = raw + mention_scores[i0:i1, None] \
                + mention_scores[None, lo:i1]
            ii = np.arange(i0, i1)[:, None]
            jj = np.arange(lo, i1)[None, :]
            allowed = (jj < ii) & (ii - jj <= win)
            sc = np.where(allowed, raw, -np.inf).astype(F32)
            logits = np.concatenate(
                [np.zeros((i1 - i0, 1), F32), sc], axis=1)
            p = nn.softmax(logits, axis=1)[:, 1:]       # [b, i1-lo]
            upd = (p @ g_old[lo:i1]).astype(F32)
            f = nn.sigmoid(
                np.concatenate([g_old[i0:i1], upd], axis=1)
                @ w["f_w"] + w["f_b"])
            new_g[i0:i1] = (f * g_old[i0:i1]
                            + (F32(1) - f) * upd).astype(F32)
            if last:
                b_idx = np.argmax(logits, axis=1)       # 0 = dummy
                mx = logits[np.arange(i1 - i0), b_idx]
                sel = b_idx > 0
                best[i0:i1][sel] = lo + b_idx[sel] - 1
                best_sc[i0:i1] = mx
        g = new_g
    return g, best, best_sc


_TOK_RE = re.compile(r"\S+")


def capped_sentences(text: str) -> tuple[list[list[str]], bool]:
    """Sentence split truncated to C.MAX_DOC_TOKENS tokens. The
    straggler guard for pathological pages: decode latency is linear
    in tokens, so one multi-hundred-k-token page would otherwise pin
    a single task for minutes. Tokenization itself is lazy
    (finditer + early exit), so the guard is O(cap) even on a 100 MB
    page — a full-text split would itself be the straggler. Token
    stream is identical to kernel.tokenize.tokenize (maximal
    non-whitespace runs). Shared by decode and triple emission so
    Spark and the oracle stay in exact parity.

    Returns (sentences, truncated)."""
    toks: list[str] = []
    truncated = False
    for m in _TOK_RE.finditer(text or ""):
        if len(toks) >= C.MAX_DOC_TOKENS:
            truncated = True
            break
        toks.append(m.group(0))
    return split_sentences(toks), truncated


def _forward(tokens: list[str], sent_lens: list[int],
             w: dict) -> tuple:
    """Shared forward pass M1–M5 (encode -> span enumeration -> span
    reprs -> mention beam -> propagation), extracted verbatim from
    decode_document so decode_document and loss_document score the
    IDENTICAL hypothesis space — a decode-forward change cannot
    silently diverge from the M11 loss (the bit-identity of this
    refactor is certified by the pinned decode goldens).
    Returns (h, starts, ends, sids, g, m_scores, p_idx)."""
    sent_offsets = np.cumsum([0] + sent_lens[:-1])

    h = _encode(tokens, w)                                    # [n, H]

    # M2: enumerate spans per sentence, doc-level indices,
    # (sent_id, start, end) order.
    starts_l, ends_l, sids_l = [], [], []
    for sid, (off, slen) in enumerate(zip(sent_offsets, sent_lens)):
        sp = enumerate_spans(slen)
        starts_l.append(sp[:, 0] + off)
        ends_l.append(sp[:, 1] + off)
        sids_l.append(np.full(len(sp), sid, dtype=np.int64))
    starts = np.concatenate(starts_l)
    ends = np.concatenate(ends_l)
    sids = np.concatenate(sids_l)

    # M3: span representations g = [h_start; h_end; width_emb]
    wb = width_buckets(starts, ends, C.WIDTH_BUCKETS)
    g = np.concatenate([h[starts], h[ends], w["width_emb"][wb]], axis=1)

    # M4: mention scores + relation beam (W1)
    m_scores = nn.ffn(g, w["m_w1"], w["m_b1"], w["m_w2"], w["m_b2"]).ravel()
    keep = _beam_keep(m_scores, starts, ends, sids, sent_lens,
                      C.SPANS_PER_WORD)
    p_idx = np.nonzero(keep)[0]          # document order (sid, start, end)

    # M5: propagation over the pruned beam (document-level)
    gp, _, _ = _propagate(g[p_idx], m_scores[p_idx], w, C.PROP_ITERS)
    g[p_idx] = gp                         # propagated reprs feed M6/M7/M9
    return h, starts, ends, sids, g, m_scores, p_idx


def _sentence_groups(beam_sids: np.ndarray) -> list[np.ndarray]:
    """Sentence-group blocking for the pair heads (M7/M9): contiguous
    whole-sentence runs of the beam, each capped near PAIR_BLOCK spans
    — shared by decode_document and loss_document (same extraction
    contract as _forward)."""
    groups: list[np.ndarray] = []
    g_start = 0
    while g_start < beam_sids.size:
        g_end = g_start
        while g_end < beam_sids.size:
            sid_end = beam_sids[g_end]
            nxt = np.searchsorted(beam_sids, sid_end, side="right")
            if nxt - g_start > PAIR_BLOCK and g_end > g_start:
                break
            g_end = nxt
        groups.append(np.arange(g_start, g_end))
        g_start = g_end
    return groups


def decode_document(url: str, text: str, w: dict) -> dict:
    """Full forward + decode for one document. Returns dict of plain
    lists (JSON-able), mirroring the predicted_* fields of SURVEY.md
    §1.1 plus flat triple provenance."""
    sentences, truncated = capped_sentences(text)
    tokens = [t for s in sentences for t in s]
    n = len(tokens)
    out = {
        "url": url, "n_tokens": n, "n_spans": 0,
        "sentences": sentences, "truncated": truncated,
        "mentions": [], "relations": [], "triggers": [],
        "args": [], "coref_links": [],
    }
    if n == 0:
        return out

    sent_lens = [len(s) for s in sentences]

    h, starts, ends, sids, g, m_scores, p_idx = _forward(
        tokens, sent_lens, w)
    out["n_spans"] = int(len(starts))

    # M6: biaffine NER over ALL spans:
    # logit[i,l] = h_sᵀ U_l h_e + w_l·g_i + b_l  [BASELINE biaffine]
    # span-blocked so peak memory is O(SPAN_BLOCK · L · H)
    for s0 in range(0, len(starts), SPAN_BLOCK):
        s1 = min(s0 + SPAN_BLOCK, len(starts))
        hs, he = h[starts[s0:s1]], h[ends[s0:s1]]
        ner_tmp = np.tensordot(hs, w["ner_u"], axes=([1], [1]))
        ner_bil = (ner_tmp * he[:, None, :]).sum(axis=2)     # [b, L]
        ner_logits = ner_bil + g[s0:s1] @ w["ner_w"].T + w["ner_b"]
        ner_lab = np.argmax(ner_logits, axis=1)
        for bi in np.nonzero(ner_lab != 0)[0]:
            i = s0 + bi
            out["mentions"].append((
                int(sids[i]), int(starts[i]), int(ends[i]),
                C.NER_LABELS[int(ner_lab[bi])],
                float(ner_logits[bi, ner_lab[bi]]),
            ))

    # M7: biaffine relations over pruned pairs within a sentence
    # (J1 fused in-kernel — SURVEY.md §2.3: per-sentence k is small).
    # M10: coref best-antecedent decode over the coref beam.
    coref_keep = _beam_keep(m_scores, starts, ends, sids, sent_lens,
                            C.COREF_SPANS_PER_WORD)
    c_idx = np.nonzero(coref_keep)[0]
    if c_idx.size:
        _, best, mx = _propagate(g[c_idx], m_scores[c_idx], w, 1)
        for ii in range(len(c_idx)):
            if best[ii] >= 0 and mx[ii] > 0:
                a, b = c_idx[ii], c_idx[best[ii]]
                out["coref_links"].append((
                    int(sids[a]), int(starts[a]), int(ends[a]),
                    int(sids[b]), int(starts[b]), int(ends[b]),
                    float(mx[ii]),
                ))

    # M7: batched biaffine over sentence-GROUPS of the beam, masked to
    # same-sentence ordered pairs — the per-pair arithmetic of the
    # per-sentence loop, but one matmul per ≤PAIR_BLOCK spans, so both
    # speed (few BLAS calls/doc) and memory (O(PAIR_BLOCK²·L)) are
    # bounded for arbitrarily long documents.
    groups = _sentence_groups(sids[p_idx])
    for grp in groups:
        if grp.size < 2:
            continue
        sel = p_idx[grp]
        gk = g[sel]
        logits = nn.biaffine(gk, gk, w["rel_u"], w["rel_w"], w["rel_b"])
        lab = np.argmax(logits, axis=2)
        same_sent = sids[sel][:, None] == sids[sel][None, :]
        valid = same_sent & (lab != 0) & ~np.eye(grp.size, dtype=bool)
        for a, b in np.argwhere(valid):
            ia, ib = sel[a], sel[b]
            l = int(lab[a, b])
            out["relations"].append((
                int(sids[ia]), int(starts[ia]), int(ends[ia]),
                int(starts[ib]), int(ends[ib]),
                C.REL_LABELS[l], float(logits[a, b, l]),
            ))

    # M8: trigger decode per token
    t_logits = nn.ffn(h, w["t_w1"], w["t_b1"], w["t_w2"], w["t_b2"])
    t_lab = np.argmax(t_logits, axis=1)
    tok_sid = np.repeat(np.arange(len(sent_lens)), sent_lens)
    trig_pos = np.nonzero(t_lab != 0)[0]
    for t in trig_pos:
        out["triggers"].append((
            int(tok_sid[t]), int(t), C.TRIGGER_LABELS[int(t_lab[t])],
            float(t_logits[t, t_lab[t]]),
        ))

    # M9: biaffine arguments — triggers × beam spans of the same
    # sentence-GROUP (J2 fused in-kernel), memory bounded like M7.
    if trig_pos.size and p_idx.size:
        trig_sids = tok_sid[trig_pos]
        for grp in groups:
            sel = p_idx[grp]
            grp_sids = sids[sel]
            t_mask = np.isin(trig_sids, np.unique(grp_sids))
            tg = trig_pos[t_mask]
            if tg.size == 0:
                continue
            logits = nn.biaffine(h[tg], g[sel], w["arg_u"],
                                 w["arg_w"], w["arg_b"])    # [T, b, L]
            lab = np.argmax(logits, axis=2)
            same_sent = tok_sid[tg][:, None] == grp_sids[None, :]
            for ti, j in np.argwhere(same_sent & (lab != 0)):
                t = tg[ti]
                ia = sel[j]
                out["args"].append((
                    int(tok_sid[t]), int(t),
                    C.TRIGGER_LABELS[int(t_lab[t])],
                    int(starts[ia]), int(ends[ia]),
                    C.ARG_LABELS[int(lab[ti, j])],
                    float(logits[ti, j, lab[ti, j]]),
                ))
    return out


def span_text(tokens: list[str], start: int, end: int) -> str:
    return " ".join(tokens[start:end + 1])


def triples_rows(url: str, text: str, w: dict,
                 meta: dict | None = None) -> list[tuple]:
    """Decode + §2.9 triple emission. Row shape (the wide `triples`
    schema of FIXTURES.md §3 + sent_id):
    (url, kind, subj, pred, obj,
     subj_start, subj_end, obj_start, obj_end, sent_id, score)
    kinds: ner | relation | event | event_arg | coref.

    `event` rows carry every predicted trigger — including triggers
    with zero arguments — so the prediction sink can rebuild the
    reference's `predicted_events` surface, whose [trigger_tok,
    event_type] entry exists even for argument-less events
    (ref:dygie/models/events.py::EventExtractor decode; SURVEY §1.1).

    `meta`, when passed, receives {"truncated": bool} — the caller's
    hook for counting MAX_DOC_TOKENS cuts (lineage observability).
    """
    out = decode_document(url, text, w)
    if meta is not None:
        meta["truncated"] = out["truncated"]
    tokens = [t for s in out["sentences"] for t in s]
    rows: list[tuple] = []
    for sid, s, e, lab, score in out["mentions"]:
        rows.append((url, "ner", span_text(tokens, s, e), "has_type", lab,
                     s, e, -1, -1, sid, score))
    for sid, s1, e1, s2, e2, lab, score in out["relations"]:
        rows.append((url, "relation", span_text(tokens, s1, e1), lab,
                     span_text(tokens, s2, e2), s1, e1, s2, e2, sid, score))
    for sid, t, etype, score in out["triggers"]:
        rows.append((url, "event", f"{span_text(tokens, t, t)}|{etype}",
                     "has_event_type", etype, t, t, -1, -1, sid, score))
    for sid, t, etype, s, e, role, score in out["args"]:
        rows.append((url, "event_arg",
                     f"{span_text(tokens, t, t)}|{etype}", role,
                     span_text(tokens, s, e), t, t, s, e, sid, score))
    for sid1, s1, e1, sid2, s2, e2, score in out["coref_links"]:
        rows.append((url, "coref", span_text(tokens, s1, e1), "coref_with",
                     span_text(tokens, s2, e2), s1, e1, s2, e2, sid1, score))
    return rows


def _log_softmax(logits: np.ndarray) -> np.ndarray:
    """Numerically stable log-softmax over the last axis (float32,
    fixed reduction order — same determinism contract as decode)."""
    x = logits.astype(F32)
    m = np.max(x, axis=-1, keepdims=True)
    z = x - m
    return (z - np.log(np.sum(np.exp(z), axis=-1,
                              keepdims=True))).astype(F32)


def loss_document(url: str, text: str, gold: dict, w: dict) -> dict:
    """M11: multi-task evaluation-mode loss for ONE document — the
    per-task negative log-likelihoods DyGIE++ sums during training
    (ref:dygie/models/dygie.py::DyGIE forward loss accumulation),
    computed against frozen weights. Training itself stays out of
    scope (frozen fixture, per SURVEY); this is the distributed
    EVALUATION of the training signal — the corpus-scale "how far is
    this model from this gold" measurement a data pipeline runs when
    curating fine-tuning sets.

    The forward pass IS decode_document's forward — both call the
    shared _forward/_sentence_groups helpers, so the loss always
    scores exactly the hypothesis space the decode emits from, and a
    decode-forward change propagates here automatically. Kernel
    parity (Spark vs oracle) holds by construction since both call
    this verbatim.

    `gold` (doc-level token indices, flat lists):
      ner:       [(start, end, label_str), ...]
      relations: [(s1, e1, s2, e2, label_str), ...]
      triggers:  [(pos, label_str), ...]
      args:      [(trig_pos, start, end, label_str), ...]
    Gold items outside the model's hypothesis space (span wider than
    the enumeration limit, pair outside the pruned beam) are
    unreachable exactly as in the reference's pruned training and are
    dropped. A label outside the task's vocabulary raises ValueError
    naming the task and label. Candidate sets: NER = every enumerated span; relations =
    ordered same-sentence beam pairs; triggers = every token;
    args = GOLD trigger tokens x same-sentence beam spans (teacher
    forcing). Per task returns (n candidates, summed NLL); coref's
    marginalized antecedent likelihood is excluded (the reference's
    SciERC config trains coref separately — documented seam).
    """
    sentences, _ = capped_sentences(text)
    tokens = [t for s in sentences for t in s]
    n = len(tokens)
    zero = {"n": 0, "nll": 0.0}
    out = {"url": url, "n_tokens": n,
           "ner": dict(zero), "relation": dict(zero),
           "trigger": dict(zero), "arg": dict(zero)}
    if n == 0:
        return out
    sent_lens = [len(s) for s in sentences]
    h, starts, ends, sids, g, m_scores, p_idx = _forward(
        tokens, sent_lens, w)

    def _lab_idx(task: str, labels: list[str], lab: str) -> int:
        # an out-of-vocabulary gold label must not silently train the
        # null class
        if lab not in labels:
            raise ValueError(f"loss_document: {task} gold label {lab!r} "
                             f"is not in {labels}")
        return labels.index(lab)

    # NER: every enumerated span scored, gold label or null
    ner_gold = {(int(s), int(e)): _lab_idx("ner", C.NER_LABELS, lab)
                for s, e, lab in gold.get("ner", [])}
    span_gold = np.zeros(len(starts), dtype=np.int64)
    for i in range(len(starts)):
        span_gold[i] = ner_gold.get((int(starts[i]), int(ends[i])), 0)
    nll = 0.0
    for s0 in range(0, len(starts), SPAN_BLOCK):
        s1 = min(s0 + SPAN_BLOCK, len(starts))
        hs, he = h[starts[s0:s1]], h[ends[s0:s1]]
        ner_tmp = np.tensordot(hs, w["ner_u"], axes=([1], [1]))
        ner_bil = (ner_tmp * he[:, None, :]).sum(axis=2)
        ner_logits = ner_bil + g[s0:s1] @ w["ner_w"].T + w["ner_b"]
        lp = _log_softmax(ner_logits)
        nll -= float(lp[np.arange(s1 - s0), span_gold[s0:s1]].sum())
    out["ner"] = {"n": int(len(starts)), "nll": nll}

    # relations: same sentence-group blocking as decode M7
    rel_gold = {(int(a), int(b), int(c), int(d)):
                _lab_idx("relation", C.REL_LABELS, lab)
                for a, b, c, d, lab in gold.get("relations", [])}
    groups = _sentence_groups(sids[p_idx])
    r_n, r_nll = 0, 0.0
    for grp in groups:
        if grp.size < 2:
            continue
        sel = p_idx[grp]
        gk = g[sel]
        logits = nn.biaffine(gk, gk, w["rel_u"], w["rel_w"], w["rel_b"])
        lp = _log_softmax(logits)
        same_sent = sids[sel][:, None] == sids[sel][None, :]
        valid = same_sent & ~np.eye(grp.size, dtype=bool)
        for a, b in np.argwhere(valid):
            ia, ib = sel[a], sel[b]
            gl = rel_gold.get((int(starts[ia]), int(ends[ia]),
                               int(starts[ib]), int(ends[ib])), 0)
            r_nll -= float(lp[a, b, gl])
            r_n += 1
    out["relation"] = {"n": r_n, "nll": r_nll}

    # triggers: every token
    trig_gold = {int(p): _lab_idx("trigger", C.TRIGGER_LABELS, lab)
                 for p, lab in gold.get("triggers", [])}
    t_logits = nn.ffn(h, w["t_w1"], w["t_b1"], w["t_w2"], w["t_b2"])
    t_lp = _log_softmax(t_logits)
    tok_gold = np.zeros(n, dtype=np.int64)
    for p, gi in trig_gold.items():
        if 0 <= p < n:
            tok_gold[p] = gi
    out["trigger"] = {"n": n,
                      "nll": -float(t_lp[np.arange(n), tok_gold].sum())}

    # arguments: gold trigger tokens x same-sentence beam spans
    arg_gold = {(int(t), int(s), int(e)):
                _lab_idx("arg", C.ARG_LABELS, lab)
                for t, s, e, lab in gold.get("args", [])}
    tok_sid = np.repeat(np.arange(len(sent_lens)), sent_lens)
    gold_trigs = np.array(sorted(p for p in trig_gold if 0 <= p < n),
                          dtype=np.int64)
    a_n, a_nll = 0, 0.0
    if gold_trigs.size and p_idx.size:
        trig_sids = tok_sid[gold_trigs]
        for grp in groups:
            sel = p_idx[grp]
            grp_sids = sids[sel]
            t_mask = np.isin(trig_sids, np.unique(grp_sids))
            tg = gold_trigs[t_mask]
            if tg.size == 0:
                continue
            logits = nn.biaffine(h[tg], g[sel], w["arg_u"],
                                 w["arg_w"], w["arg_b"])
            lp = _log_softmax(logits)
            same_sent = tok_sid[tg][:, None] == grp_sids[None, :]
            for ti, j in np.argwhere(same_sent):
                gl = arg_gold.get((int(tg[ti]), int(starts[sel[j]]),
                                   int(ends[sel[j]])), 0)
                a_nll -= float(lp[ti, j, gl])
                a_n += 1
    out["arg"] = {"n": a_n, "nll": a_nll}
    return out

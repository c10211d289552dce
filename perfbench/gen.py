"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files. Pages follow the pipeline's input schema
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``
with ``html = "<html><body>" + text + "</body></html>"`` as UTF-8 bytes,
split across several parquet files per increment.

Filler words are lowercase pseudo-words; entity surfaces are 1-3
capitalised tokens that no other entity and no filler word shares, and
planted entities are separated by at least one filler word. So each
planted mention is the only gazetteer match over its tokens, and the
gazetteer scorer must find every one of them.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HTML_PREFIX = "<html><body>"
HTML_SUFFIX = "</body></html>"
ENT_TYPES = ["PER", "ORG", "LOC", "PRODUCT", "EVENT", "WORK"]
# warm-up pages get urls no measured batch uses
WARMUP_BASE = 10_000_000
TS0 = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
# entity mentions per token of the CoNLL-2003 English training set: 23,499
# mentions in 203,621 tokens (Tjong Kim Sang & De Meulder, 2003, table 2),
# one mention per 8.7 tokens
MENTIONS_PER_TOKEN = 23_499 / 203_621

_SYL = ("ka ke ki ko ku la le li lo lu ma me mi mo mu na ne ni no nu ra re ri "
        "ro ru sa se si so su ta te ti to tu va ve vi vo vu za ze zi zo zu").split()


def _words(rng: np.random.Generator, n: int, n_syl: int, offset: int = 0) -> list[str]:
    """``n`` distinct pseudo-words: mixed-radix spelling of ``offset + i``
    over a seed-shuffled syllable table (distinct indices, distinct words)."""
    syl = [_SYL[i] for i in rng.permutation(len(_SYL))]
    base = len(syl)
    out = []
    for i in range(offset, offset + n):
        parts = []
        for _ in range(n_syl):
            i, r = divmod(i, base)
            parts.append(syl[r])
        out.append("".join(parts))
    return out


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return np.cumsum(w / w.sum())


def _draw(rng: np.random.Generator, cdf: np.ndarray, k: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(k)), len(cdf) - 1)


def _gazetteer(rng: np.random.Generator, n_entities: int) -> dict[str, str]:
    """``n_entities`` surfaces of 1-3 capitalised tokens, every token
    unique to its entity, each with a seeded type."""
    n_tok = rng.integers(1, 4, size=n_entities)
    toks = _words(rng, int(n_tok.sum()), 4, offset=1_000_000)
    gaz, pos = {}, 0
    for i, k in enumerate(n_tok):
        surface = " ".join(t.capitalize() for t in toks[pos:pos + k])
        pos += k
        gaz[surface] = ENT_TYPES[int(rng.integers(len(ENT_TYPES)))]
    return gaz


class _PageWriter:
    """Accumulates pages and writes them as ``n_files`` parquet parts."""

    def __init__(self, root: str, workload: str, n_domains: int = 50):
        self.root, self.workload, self.n_domains = root, workload, n_domains
        self.counts: dict[str, int] = {}  # batch name -> pages

    def url(self, i: int) -> str:
        # a hot domain takes ~30% of the pages (web crawl skew)
        d = 0 if (i * 2654435761) % 10 < 3 else 1 + (i * 40503) % (self.n_domains - 1)
        return f"https://site{d}.example.com/{self.workload}/{i}"

    def write(self, name: str, rows: list[tuple[int, str, str]], n_files: int) -> str:
        """rows = [(page index, text, lang)] -> ``<root>/<name>/part-*.parquet``."""
        out = os.path.join(self.root, name)
        os.makedirs(out, exist_ok=True)
        schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
        for f, part in enumerate(np.array_split(np.arange(len(rows)), n_files)):
            sel = [rows[j] for j in part]
            table = pa.table({
                "url": [self.url(i) for i, _, _ in sel],
                "warc_ts": [datetime.fromtimestamp(TS0 + 37 * i, timezone.utc) for i, _, _ in sel],
                "html": [(HTML_PREFIX + t + HTML_SUFFIX).encode("utf-8") for _, t, _ in sel],
                "text": [t for _, t, _ in sel],
                "lang": [lang for _, _, lang in sel],
            }, schema=schema)
            pq.write_table(table, os.path.join(out, f"part-{f:03d}.parquet"))
        self.counts[name.split("/")[-1]] = len(rows)
        return out


def _entity_page(rng, filler, filler_cdf, ents, ent_cdf, n_ent_range, n_tok_range):
    """One page of filler with k distinct planted entities, k drawn from
    ``n_ent_range``. Returns (text, planted surfaces)."""
    k = int(rng.integers(*n_ent_range))
    planted = _pick(rng, ents, ent_cdf, k)
    return _layout(rng, filler, filler_cdf, planted, int(rng.integers(*n_tok_range))), planted


def _conll_page(rng, filler, filler_cdf, ents, ent_cdf, n_tok_range):
    """One page of ``n_tok_range`` tokens whose entity count is
    Binomial(tokens, CoNLL-03 mention density). Returns (text, planted)."""
    n_tok = int(rng.integers(*n_tok_range))
    planted = _pick(rng, ents, ent_cdf, int(rng.binomial(n_tok, MENTIONS_PER_TOKEN)))
    return _layout(rng, filler, filler_cdf, planted, n_tok), planted


def _pick(rng, ents, ent_cdf, k: int) -> list[str]:
    """``k`` distinct entities, Zipf-drawn."""
    picks = list(dict.fromkeys(int(e) for e in _draw(rng, ent_cdf, 2 * k)))[:k]
    return [ents[e] for e in picks]


def _layout(rng, filler, filler_cdf, planted: list[str], n_tok: int) -> str:
    """About ``n_tok`` tokens (more if the entities need them): filler
    words with the planted entities placed in it, each preceded by at
    least one filler word."""
    ent_toks = sum(len(p.split(" ")) for p in planted)
    n_fill = max(n_tok, ent_toks + 2 * len(planted) + 1) - ent_toks
    fill = [filler[w] for w in _draw(rng, filler_cdf, n_fill)]
    # slots: a filler position after which an entity goes; distinct
    # slots keep entities apart
    slots = sorted(rng.choice(n_fill, size=len(planted), replace=False).tolist())
    toks, j = [], 0
    for s, p in zip(slots, planted):
        toks.extend(fill[j:s + 1])
        toks.append(p)
        j = s + 1
    toks.extend(fill[j:])
    return " ".join(toks)


def _comention_edges(planted_lists) -> int:
    edges = set()
    for planted in planted_lists:
        ids = sorted(set(planted))
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                edges.add((ids[a], ids[b]))
    return len(edges)


def gen_kg_dense(seed: int, root: str, n_pages: int) -> dict:
    """Long pages (~500 tokens) over a 150k-word vocabulary, a quarter of
    them Chinese pages of ~600 characters (one token per character, so
    they split into two 512-token segments)."""
    rng = np.random.default_rng([seed, 1])
    vocab = _words(rng, 150_000, 4)
    cdf = _zipf_cdf(len(vocab), 0.9)
    cjk = [chr(0x4E00 + i) for i in rng.permutation(6000)]
    cjk_cdf = _zipf_cdf(len(cjk), 1.0)
    rows, n_tokens, seen = [], [], set()
    for i in range(n_pages):
        if rng.random() < 0.25:
            toks = [cjk[c] for c in _draw(rng, cjk_cdf, int(rng.integers(560, 660)))]
            rows.append((i, "".join(toks), "zh"))
        else:
            toks = [vocab[w] for w in _draw(rng, cdf, int(rng.integers(450, 551)))]
            rows.append((i, " ".join(toks), "en"))
        n_tokens.append(len(toks))
        seen.update(toks)
    w = _PageWriter(root, "kg_dense")
    w.write("pages/backfill", rows, 4)
    # warm-up pages: the same kinds of text, cut short (the warm-up warms
    # code paths; dense scoring cost grows with the square of length)
    warm = [(WARMUP_BASE + i, t[:200] if lang == "zh" else " ".join(t.split(" ")[:60]), lang)
            for i, (_, t, lang) in enumerate(rows[:8])]
    w.write("pages/warmup", warm, 1)
    return {"batches": {"backfill": "pages/backfill", "warmup": "pages/warmup"}, "order": ["backfill"],
            "batch_pages": w.counts,
            "stats": {"pages": n_pages, "tokens_per_page": float(np.mean(n_tokens)),
                      "zh_pages": sum(lang == "zh" for _, _, lang in rows),
                      "vocabulary": len(vocab), "distinct_tokens": len(seen)}}


def gen_kg_incremental(seed: int, root: str, n_backfill: int, n_increments: int,
                       n_increment_pages: int) -> dict:
    """Short pages (40-120 tokens) from a Zipfian 100k-word vocabulary,
    carrying entities of a 10k-entity gazetteer at the CoNLL-03 mention
    density (about 9 per page). The backfill's page count sets the size of
    its co-mention graph."""
    rng = np.random.default_rng([seed, 2])
    filler = _words(rng, 100_000, 4)
    filler_cdf = _zipf_cdf(len(filler), 1.0)
    gaz = _gazetteer(rng, 10_000)
    ents = list(gaz)
    ent_cdf = _zipf_cdf(len(ents), 0.6)
    w = _PageWriter(root, "kg_incremental")
    batches, planted_rows, n_tokens, per_batch_planted = {}, [], [], {}
    sizes = [("backfill", n_backfill, 8)] + [
        (f"inc{b + 1}", n_increment_pages, 2) for b in range(n_increments)]
    i = 0
    for name, n, n_files in sizes:
        rows, lists = [], []
        for _ in range(n):
            text, planted = _conll_page(rng, filler, filler_cdf, ents, ent_cdf, (40, 121))
            rows.append((i, text, "en"))
            lists.append(planted)
            planted_rows.extend((w.url(i), p) for p in planted)
            n_tokens.append(text.count(" ") + 1)
            i += 1
        batches[name] = os.path.relpath(w.write(f"pages/{name}", rows, n_files), root)
        per_batch_planted[name] = lists
    warm = [(WARMUP_BASE + j,
             _conll_page(rng, filler, filler_cdf, ents, ent_cdf, (40, 121))[0], "en")
            for j in range(32)]
    batches["warmup"] = os.path.relpath(w.write("pages/warmup", warm, 1), root)
    with open(os.path.join(root, "gazetteer.json"), "w") as f:
        json.dump(gaz, f)
    pq.write_table(pa.table({"url": [u for u, _ in planted_rows], "obj": [p for _, p in planted_rows]}),
                   os.path.join(root, "planted_mentions.parquet"))
    return {"batches": batches, "order": [name for name, _, _ in sizes], "batch_pages": w.counts,
            "gazetteer": "gazetteer.json",
            "planted_mentions": "planted_mentions.parquet",
            "stats": {"pages": i, "tokens_per_page": float(np.mean(n_tokens)),
                      "vocabulary": len(filler), "gazetteer_entities": len(gaz),
                      "distinct_entities": len({p for _, p in planted_rows}),
                      "planted_mentions": len(planted_rows),
                      "mentions_per_page": len(planted_rows) / i,
                      "backfill_comention_edges": _comention_edges(per_batch_planted["backfill"]),
                      "max_increment_comention_edges": max(
                          (_comention_edges(v) for k, v in per_batch_planted.items()
                           if k != "backfill"), default=0)}}


def _mutate(rng, toks: list[str], filler, filler_cdf, n_edits: int) -> list[str]:
    toks = list(toks)
    for _ in range(n_edits):
        pos = int(rng.integers(len(toks)))
        op = rng.integers(3)
        if op == 0:
            toks[pos] = filler[int(_draw(rng, filler_cdf, 1)[0])]
        elif op == 1:
            toks.insert(pos, filler[int(_draw(rng, filler_cdf, 1)[0])])
        elif len(toks) > 20:
            del toks[pos]
    return toks


def gen_near_dup(seed: int, root: str, n_docs: int, template_cluster: int) -> dict:
    """A corpus of entity-bearing pages in which near-duplicate clusters
    are planted: many small clusters (2-5 copies), some mid-size ones
    (6-30), and one large template cluster whose members differ only in
    two slot words. Pairs inside a cluster are the planted pairs.

    The mix is a synthetic stress setting, not taken from a corpus: about
    30% of the pages are copies, so 6000 pages plant ~28k pairs, and the
    template cluster puts ~200 documents in one LSH bucket, so pair
    enumeration over uneven buckets is the dominant cost."""
    rng = np.random.default_rng([seed, 3])
    filler = _words(rng, 100_000, 4)
    # a flatter word distribution than the KG pages: with Zipf 1.0 the
    # few most frequent words decide most simhash bits, and how many docs
    # share a simhash bucket (the pair-enumeration work) swings by a third
    # from seed to seed
    filler_cdf = _zipf_cdf(len(filler), 0.7)
    gaz = _gazetteer(rng, 2_000)
    ents = list(gaz)
    ent_cdf = _zipf_cdf(len(ents), 0.8)
    texts: list[list[str]] = []
    clusters: list[list[int]] = []

    def base():
        text, _ = _entity_page(rng, filler, filler_cdf, ents, ent_cdf, (2, 6), (60, 121))
        return text.split(" ")

    # the template cluster: one long page, two slots refilled per member
    tmpl = base() + base()
    slots = sorted(rng.choice(len(tmpl), size=2, replace=False).tolist())
    members = []
    for _ in range(template_cluster):
        t = list(tmpl)
        for s in slots:
            t[s] = filler[int(rng.integers(len(filler)))]
        members.append(len(texts))
        texts.append(t)
    clusters.append(members)
    # mutated-copy clusters until about 30% of the corpus is duplicates
    while len(texts) < 0.3 * n_docs:
        size = int(rng.integers(6, 31)) if rng.random() < 0.15 else int(rng.integers(2, 6))
        src = base()
        members = []
        for _ in range(size):
            members.append(len(texts))
            # at most one edit per copy: two copies stay within two edits of
            # each other, similar enough that LSH should pair them
            texts.append(_mutate(rng, src, filler, filler_cdf, int(rng.integers(0, 2))))
        clusters.append(members)
    while len(texts) < n_docs:
        texts.append(base())
    order = rng.permutation(len(texts))  # scatter cluster members
    pos = np.empty(len(texts), dtype=np.int64)
    pos[order] = np.arange(len(texts))
    rows = [(int(i), " ".join(texts[j]), "en") for i, j in enumerate(order)]
    planted = sorted(
        (min(int(pos[a]), int(pos[b])), max(int(pos[a]), int(pos[b])))
        for c in clusters for x, a in enumerate(c) for b in c[x + 1:])
    w = _PageWriter(root, "near_dup")
    w.write("pages/backfill", rows, 6)
    # several files, so the warm-up starts a Python worker per core
    w.write("pages/warmup", [(WARMUP_BASE + j, " ".join(texts[j]), "en") for j in range(400)], 8)
    with open(os.path.join(root, "gazetteer.json"), "w") as f:
        json.dump(gaz, f)
    with open(os.path.join(root, "planted_pairs.json"), "w") as f:
        json.dump(planted, f)
    return {"batches": {"backfill": "pages/backfill", "warmup": "pages/warmup"}, "order": ["backfill"],
            "batch_pages": w.counts, "gazetteer": "gazetteer.json",
            "planted_pairs": "planted_pairs.json",
            "stats": {"pages": len(rows),
                      "tokens_per_page": float(np.mean([len(t) for t in texts])),
                      "clusters": len(clusters), "planted_pairs": len(planted),
                      "largest_cluster": max(len(c) for c in clusters),
                      "gazetteer_entities": len(ents)}}

"""Seeded input generator for the perfbench workloads.

Writes the parquet tables a workload reads, plus `params.json` (the
workload's knobs and the ground truth the correctness checks compare
against). The same (workload, seed) always produces byte-identical
tables; nothing here touches the library under test. `run.py` calls
`generate`.
"""

import json
import math
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Gopher's stopword set: a document needs at least two of them to pass
# the quality gate, so they sit at the head of the Zipf ranking.
STOPWORDS = ["the", "of", "and", "to", "be", "that", "have", "with"]
FUNCTION_WORDS = ["a", "in", "is", "for", "on", "as", "it", "by", "this",
                  "are", "from", "or", "at", "an", "not", "which", "can",
                  "we", "its", "more"]
# One finished crawl cycle of a non-SDG document, as the ledger records it.
RECRAWL = ["url_retrieved", "document_scraped", "document_vectorized",
           "document_classified_non_sdg", "document_in_qdrant"]
ROUTABLE_LANGS = ["en", "fr", "es", "de", "it", "pt"]
UNROUTABLE_LANGS = ["und", "sw"]
LANG_WEIGHTS = [0.40, 0.15, 0.10, 0.10, 0.07, 0.05, 0.08, 0.05]

WORKLOADS = {
    # batch-level totals are held fixed (see gen_workflow_batch), so one
    # cycle does the same amount of work on every seed
    "workflow_batch": dict(batches=12, history=1, mean_words=450, sigma=0.55,
                           min_words=120, max_words=2400, batch=48,
                           cap_fill=3.0, max_words_per_slice=128,
                           embed_dim=64, stack_layers=2, stack_heads=2,
                           stack_vocab=4096, slice_buckets=4),
    "corpus_curation": dict(base_docs=240, mean_words=300, sigma=0.45,
                            min_words=120, max_words=900,
                            near_dup_share=0.3, exact_dup_share=0.05,
                            short_share=0.05, near_dup_threshold=0.8,
                            mutation_rate=0.01),
}


def vocabulary(size=4000):
    """Fixed pseudo-word vocabulary (independent of the run seed):
    stopwords and function words first, then syllable words."""
    rng = np.random.default_rng(0x70CAB)
    onsets = ["b", "c", "d", "f", "g", "l", "m", "n", "p", "r", "s", "t",
              "v", "br", "cr", "dr", "gr", "pl", "st", "tr", "ch", "sh"]
    nuclei = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
    codas = ["", "", "n", "r", "s", "t", "l", "m", "nd", "st"]
    words = list(STOPWORDS) + list(FUNCTION_WORDS)
    seen = set(words)
    while len(words) < size:
        n_syl = int(rng.integers(1, 4))
        w = "".join(onsets[rng.integers(len(onsets))] +
                    nuclei[rng.integers(len(nuclei))] +
                    codas[rng.integers(len(codas))] for _ in range(n_syl))
        if 3 <= len(w) <= 12 and w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


VOCAB = vocabulary()
NORMAL = statistics.NormalDist()
# Zipf-Mandelbrot ranks: the stopwords are the most frequent words.
ZIPF = 1.0 / (np.arange(1, len(VOCAB) + 1) + 2.7)
ZIPF /= ZIPF.sum()


def quantile_lengths(rng, n, mean_words, sigma, lo, hi):
    """n log-normal document lengths (in words) with the given mean,
    taken at the distribution's n evenly spaced quantiles and shuffled:
    lengths vary from document to document, but every draw of n has the
    same total."""
    mu = math.log(mean_words) - sigma * sigma / 2
    z = [NORMAL.inv_cdf((i + 0.5) / n) for i in range(n)]
    counts = np.clip(np.round(np.exp(mu + sigma * np.array(z))), lo, hi)
    return rng.permutation(counts.astype(int))


def fixed_mix(rng, n, values, weights):
    """n values in the given proportions (largest remainder), shuffled."""
    exact = np.array(weights) / sum(weights) * n
    k = np.floor(exact).astype(int)
    k[np.argsort(k - exact)[:n - k.sum()]] += 1
    return rng.permutation(np.repeat(np.array(values, dtype=object), k))


class Doc:
    """A document as token ids plus its sentence and paragraph layout,
    so a near-copy can swap words and keep the layout."""

    def __init__(self, rng, tokens):
        self.tokens = tokens
        sents, left = [], len(tokens)
        while left > 0:
            s = min(left, int(rng.integers(6, 19)))
            sents.append(s)
            left -= s
        self.sentences = sents
        paras, left = [], len(sents)
        while left > 0:
            p = min(left, int(rng.integers(3, 7)))
            paras.append(p)
            left -= p
        self.paragraphs = paras

    def mutated(self, rng, rate):
        """A near-copy: about `rate` of the words replaced."""
        toks = self.tokens.copy()
        m = max(1, int(round(len(toks) * rate)))
        pos = rng.choice(len(toks), size=m, replace=False)
        lo = len(STOPWORDS) + len(FUNCTION_WORDS)
        repl = rng.integers(lo, len(VOCAB), size=m)
        toks[pos] = np.where(repl == toks[pos],
                             lo + (repl - lo + 1) % (len(VOCAB) - lo), repl)
        copy = object.__new__(Doc)
        copy.tokens, copy.sentences = toks, self.sentences
        copy.paragraphs = self.paragraphs
        return copy

    def text(self):
        words = VOCAB[self.tokens]
        out, i = [], 0
        for n in self.sentences:
            s = list(words[i:i + n])
            s[0] = s[0].capitalize()
            out.append(" ".join(s) + ".")
            i += n
        paras, j = [], 0
        for n in self.paragraphs:
            paras.append(" ".join(out[j:j + n]))
            j += n
        return "\n".join(paras)


def make_docs(rng, counts):
    toks = rng.choice(len(VOCAB), size=int(counts.sum()), p=ZIPF)
    docs, i = [], 0
    for n in counts:
        t = toks[i:i + n]
        # the Gopher gate wants two distinct stopwords, which a short
        # document's draw can miss
        if np.unique(t[t < len(STOPWORDS)]).size < 2:
            t[:2] = [0, 1]
        docs.append(Doc(rng, t))
        i += n
    return docs


def write(table_dir, columns):
    os.makedirs(table_dir, exist_ok=True)
    pq.write_table(pa.table(columns),
                   os.path.join(table_dir, "part-00000.parquet"))


def documents_table(out, ids, texts, langs):
    write(os.path.join(out, "documents"), {
        "id": pa.array(ids, pa.string()),
        "url": pa.array([f"https://example.org/doc/{i}" for i in ids]),
        "title": pa.array([t[:40] for t in texts]),
        "lang": pa.array(list(langs), pa.string()),
        "full_content": pa.array(texts, pa.string()),
    })


def ledger_table(out, doc_ids, states, orders):
    write(os.path.join(out, "ledger"), {
        "id": pa.array([f"{d}@{o}" for d, o in zip(doc_ids, orders)]),
        "document_id": pa.array(doc_ids, pa.string()),
        "title": pa.array(states, pa.string()),
        "created_at": pa.nulls(len(doc_ids), pa.timestamp("us", tz="UTC")),
        "operation_order": pa.array(orders, pa.int64()),
    })


def gen_workflow_batch(out, rng, p):
    """Documents waiting at document_scraped, after `history` earlier
    crawl cycles. The library admits them
    newest scraped state first, so the generator knows which documents
    form each batch: every batch gets the same lengths and the same
    language mix (in random order), and does the same work."""
    batch = p["batch"]
    counts = np.concatenate([
        quantile_lengths(rng, batch, p["mean_words"], p["sigma"],
                         p["min_words"], p["max_words"])
        for _ in range(p["batches"])])
    langs = np.concatenate([
        fixed_mix(rng, batch, ROUTABLE_LANGS + UNROUTABLE_LANGS, LANG_WEIGHTS)
        for _ in range(p["batches"])])
    texts = [d.text() for d in make_docs(rng, counts)]
    n = len(texts)
    ids = [f"d{i:06d}" for i in rng.permutation(n)]
    documents_table(out, ids, texts, langs)
    # `history` earlier crawl cycles per document, each run to the end of
    # the workflow, then a re-crawl waiting at document_scraped; orders are
    # one global sequence, and admission rank r holds document ids[r]
    doc_ids, states, orders = [], [], []
    for step in RECRAWL * p["history"] + ["url_retrieved"]:
        doc_ids += ids
        states += [step] * n
        orders += list(len(orders) + rng.permutation(n) + 1)
    doc_ids += ids
    states += ["document_scraped"] * n
    orders += [len(orders) + n - r for r in range(n)]
    ledger_table(out, doc_ids, states, orders)
    # SDG classifiers (fixed, like a deployed model): a binary gate and a
    # 17-way head over unit vectors
    models = np.random.default_rng(0x5D6)
    def unit(k):
        v = models.standard_normal((k, p["embed_dim"])).astype(np.float32)
        return v / np.linalg.norm(v, axis=1, keepdims=True)
    write(os.path.join(out, "bi_model"), {
        "model_id": pa.array(["bi-1"]),
        "weights": pa.array([list(unit(1)[0])], pa.list_(pa.float32())),
        "bias": pa.array([0.0]), "threshold": pa.array([0.5])})
    write(os.path.join(out, "n_model"), {
        "model_id": pa.array(["n-1"] * 17),
        "sdg_number": pa.array(list(range(1, 18)), pa.int32()),
        "weights": pa.array([list(r) for r in unit(17)],
                            pa.list_(pa.float32())),
        "bias": pa.array([0.0] * 17), "threshold": pa.array([0.52] * 17)})
    return dict(byte_cap=byte_cap(texts, p), routable_langs=ROUTABLE_LANGS)


def byte_cap(texts, p):
    """The admission cap: `cap_fill` times a mean batch's bytes."""
    mean_bytes = float(np.mean([len(t.encode()) for t in texts]))
    return int(p["batch"] * mean_bytes * p["cap_fill"])


def gen_corpus_curation(out, rng, p):
    """Base documents, some with byte-identical copies, some with 1-3
    near-copies (about `mutation_rate` of the words swapped: Jaccard of
    word 3-shingles near 0.94, far above the threshold, while unrelated
    documents share almost no shingle), plus short documents that fail
    the Gopher word-count gate. The survivors are the smallest id of
    each base document's cluster."""
    nb = p["base_docs"]
    base = make_docs(rng, quantile_lengths(
        rng, nb, p["mean_words"], p["sigma"], p["min_words"], p["max_words"]))
    exact = set(rng.choice(nb, size=round(nb * p["exact_dup_share"]),
                           replace=False).tolist())
    near = rng.choice(nb, size=round(nb * p["near_dup_share"]), replace=False)
    copies = {int(c): 1 + k % 3 for k, c in enumerate(near)}
    members = []  # (cluster, text)
    for c, d in enumerate(base):
        members.append((c, d.text()))
        if c in exact:
            members.append((c, d.text()))
        for _ in range(copies.get(c, 0)):
            members.append((c, d.mutated(rng, p["mutation_rate"]).text()))
    n_short = round(nb * p["short_share"])
    for d in make_docs(rng, np.linspace(20, 44, n_short).astype(int)):
        members.append((-1, d.text()))
    ids = [f"c{i:06d}" for i in rng.permutation(len(members))]
    survivors = {}
    for (c, _), i in zip(members, ids):
        if c >= 0 and (c not in survivors or i < survivors[c]):
            survivors[c] = i
    write(os.path.join(out, "corpus"), {
        "id": pa.array(ids, pa.string()),
        "text": pa.array([t for _, t in members], pa.string()),
        "stratum": pa.array(list(fixed_mix(rng, len(members),
                                           ["web", "books", "papers"],
                                           [0.5, 0.3, 0.2])), pa.string()),
    })
    return dict(input_docs=len(members), short_docs=n_short,
                survivors=sorted(survivors.values()))


def generate(workload, seed, out):
    p = dict(WORKLOADS[workload])
    rng = np.random.default_rng([seed, list(WORKLOADS).index(workload)])
    os.makedirs(out, exist_ok=True)
    truth = globals()["gen_" + workload](out, rng, p)
    params = dict(workload=workload, seed=seed, params=p, truth=truth)
    with open(os.path.join(out, "params.json"), "w") as f:
        json.dump(params, f, indent=1, sort_keys=True)
    return params


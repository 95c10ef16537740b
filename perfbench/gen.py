"""Seeded generator for the replicated corpus and its topics.

The base is the sf0.1 `documents` table (5,000 docs over a 31-word
vocabulary). It is replicated `replicas` times with disjoint ids, as
`graft.tools.ScaleProbe` does (`doc_id + k * 10,000,000`). Every token of
every replica is substituted with probability `sub_rate` by another
vocabulary word, so exact dedup does not collapse the replicas. With
probability `rare_rate` a doc also gets one token replaced by a rare term
(`rare_terms` of them), so that topics made of rare terms are selective.

The substitutions come from the fixed `CORPUS_SEED`, not from the run's
seed: they set the near-duplicate graph, and with it how many
connected-components rounds curation runs (82 to 117 near-dedup jobs
across seeds in trial runs), which would make one run's work differ from
another's by a third. The run's seed shifts every id by the same amount
(order-preserving, so dedup keeps the same docs), shuffles the row order
and draws the topics.

Topics have 2-4 terms. Half of them are selective (all terms rare); the
rest are dense (all terms from the base vocabulary, each in at least 76%
of the docs). The engine receives only the parquet files written here.
"""
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

TOKEN = re.compile(r"[^0-9a-z]+")
CORPUS_SEED = 20260417


def rare_term(i):
    """Rare terms sort after every base word ("zq" prefix), so they fill
    the last row groups of the term-sorted postings file."""
    return "zq%04d" % i


def generate(base_path, out_dir, seed, replicas, sub_rate=0.05,
             rare_rate=0.2, rare_terms=400, topics=20, base_docs=None):
    """Write `out_dir/corpus/` and `out_dir/topics.parquet`; return their
    paths and the properties the workloads depend on. `base_docs` limits
    the base to its first docs (the small warm-up corpus)."""
    text_rng = random.Random(CORPUS_SEED)
    rng = random.Random(seed)
    base = pq.read_table(base_path, columns=["doc_id", "text"]).to_pylist()[:base_docs]
    base_tokens = [[t for t in TOKEN.split(r["text"].lower()) if t]
                   for r in base]
    vocab = sorted({t for toks in base_tokens for t in toks})
    rare = [rare_term(i) for i in range(rare_terms)]
    id_shift = (seed % 1000) * 1_000_000_000

    rows = []
    subs = injected = 0
    df = {}
    for k in range(replicas):
        for r, toks in zip(base, base_tokens):
            toks = list(toks)
            for i in range(len(toks)):
                if text_rng.random() < sub_rate:
                    toks[i] = vocab[text_rng.randrange(len(vocab))]
                    subs += 1
            if toks and text_rng.random() < rare_rate:
                toks[text_rng.randrange(len(toks))] = rare[text_rng.randrange(len(rare))]
                injected += 1
            rows.append((id_shift + r["doc_id"] + k * 10_000_000, " ".join(toks)))
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
    rng.shuffle(rows)

    os.makedirs(out_dir, exist_ok=True)
    corpus = os.path.join(out_dir, "corpus")
    os.makedirs(corpus, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                             "text": pa.array([r[1] for r in rows], pa.string())}),
                   os.path.join(corpus, "part-0.parquet"))

    n_docs = len(rows)
    present_rare = [t for t in rare if t in df]
    qids, terms, selectivity = [], [], []
    for q in range(topics):
        n = rng.randint(2, 4)
        selective = q % 2 == 0
        ts = rng.sample(present_rare if selective else vocab, n)
        qids += [str(100 + q)] * n
        terms += ts
        # share of docs matching any topic term: bounded above by the sum
        # of the rare terms' shares, below by the densest term's share
        selectivity.append(min(1.0, sum(df[t] for t in ts) / n_docs) if selective
                           else max(df[t] for t in ts) / n_docs)
    topics_path = os.path.join(out_dir, "topics.parquet")
    pq.write_table(pa.table({"qid": pa.array(qids, pa.string()),
                             "term": pa.array(terms, pa.string())}),
                   topics_path)
    return {
        "corpus": corpus,
        "topics": topics_path,
        "docs": n_docs,
        "tokens": sum(len(r[1].split()) for r in rows),
        "substitutions": subs,
        "rare_injections": injected,
        "topic_selectivity": selectivity,
        "selective_share": sum(s < 0.01 for s in selectivity) / len(selectivity),
    }

"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and returns plain data (NumPy
arrays, lists of tuples) plus a dict of the input properties it produced,
so a run records what it measured. The same seed gives the same inputs.

The graph's in-degree sequence is fixed by the size constants and only
its assignment to user ids and the choice of followers depend on the
seed, so the work per pass (wedges, hub skew) barely moves between
seeds while the graph itself changes.
"""

from __future__ import annotations

import numpy as np

#: the testdata corpus' 31-word vocabulary: every word soup document draws
#: from it, so shingles collide naturally across unrelated documents
DOC_VOCAB = (
    "a the spark table row scan slow fast value part hash merge batch "
    "key agg window order data column join small line customer query "
    "group big vector stream filter sort none"
).split()

#: words carrying no language marker and no stopword (curation rejects)
FOREIGN_VOCAB = "lorem ipsum dolor amet sed elit magna velit nibh".split()

#: vocabulary words that are not stopwords (low-stopword rejects)
NON_STOP_VOCAB = [w for w in DOC_VOCAB if w not in ("a", "the")]

#: repeated boilerplate passages (longer than the 8-word passage window)
BOILERPLATE = [
    "accept all cookies to continue reading this page and agree with terms",
    "subscribe now for the weekly newsletter with more stories like this one",
    "share this article with friends and family on every social network",
]

LANGS = ["en", "en", "en", "en", "de", "zh", "fr", "es"]
EMBED_DIMS = 64
N_LABELS = 10


#: follower graph: users, edges, Zipf exponent of the in-degrees, share
#: of follows made by popular users, repeated edges and self-loops
GRAPH_USERS = 10_000
GRAPH_EDGES = 60_000
GRAPH_ALPHA = 0.9
HUB_FOLLOW_SHARE = 0.05
DUP_SHARE = 0.02
LOOP_SHARE = 0.005

#: corpus: documents, eval documents and the planted shares of documents
CORPUS_DOCS = 450
CORPUS_EVAL = 40
EXACT_DUP_SHARE = 0.03
NEAR_DUP_SHARE = 0.05
REJECT_SHARE = 0.03
BOILERPLATE_SHARE = 0.10
CONTAMINATED_SHARE = 0.02
SEMANTIC_DUP_SHARE = 0.03


def power_law_graph(seed: int) -> tuple[np.ndarray, np.ndarray, dict]:
    """(src, dst, properties) of a directed follower multigraph: ``src``
    follows ``dst``. In-degrees follow a Zipf law of exponent
    ``GRAPH_ALPHA`` over popularity ranks; ``HUB_FOLLOW_SHARE`` of the
    follows come from popular users (drawn by the same law), which gives
    hubs out-edges to each other and so triangles. A ``DUP_SHARE`` of
    edges is repeated verbatim and a ``LOOP_SHARE`` are self-loops, as in
    the reference data."""
    n_users, n_edges = GRAPH_USERS, GRAPH_EDGES
    rng = np.random.default_rng(seed)
    n_plain = n_edges - int(n_edges * DUP_SHARE) - int(n_edges * LOOP_SHARE)
    weights = 1.0 / np.arange(1, n_users + 1) ** GRAPH_ALPHA
    indeg = np.floor(weights / weights.sum() * n_plain).astype(np.int64)
    # hand the rounding remainder to the lowest ranks, one edge each
    indeg[np.argsort(indeg, kind="stable")[: n_plain - int(indeg.sum())]] += 1
    rank_to_id = rng.permutation(n_users).astype(np.int64)
    dst = np.repeat(rank_to_id, indeg)
    from_hubs = rng.random(n_plain) < HUB_FOLLOW_SHARE
    src = np.empty(n_plain, dtype=np.int64)
    cdf = np.cumsum(weights) / weights.sum()
    ranks = np.searchsorted(cdf, rng.random(int(from_hubs.sum())))
    src[from_hubs] = rank_to_id[np.minimum(ranks, n_users - 1)]
    src[~from_hubs] = rng.integers(0, n_users, int((~from_hubs).sum()))
    # a drawn self-follow becomes a follow of the next user: self-loops
    # are planted separately, in a fixed number
    same = src == dst
    src[same] = (src[same] + 1) % n_users
    dup_idx = rng.integers(0, n_plain, int(n_edges * DUP_SHARE))
    loops = rng.integers(0, n_users, int(n_edges * LOOP_SHARE))
    src = np.concatenate([src, src[dup_idx], loops])
    dst = np.concatenate([dst, dst[dup_idx], loops])
    order = rng.permutation(len(src))
    src, dst = src[order], dst[order]
    ins = np.bincount(dst, minlength=n_users)
    outs = np.bincount(src, minlength=n_users)
    props = {
        "edges": int(len(src)),
        "users": int(n_users),
        "max_in_degree": int(ins.max()),
        "max_out_degree": int(outs.max()),
        "wedges": int((ins * outs).sum()),
        "duplicate_edges": int(len(dup_idx)),
        "self_loops": int(len(loops)),
    }
    return src, dst, props


def _soup(rng: np.random.Generator, n_words: int, vocab=DOC_VOCAB) -> list[str]:
    return [vocab[i] for i in rng.integers(0, len(vocab), n_words)]


def corpus(seed: int) -> tuple[list[tuple], list[tuple], list[tuple], dict]:
    """(documents, eval_docs, embeddings, properties).

    ``documents`` rows are ``(doc_id, text, lang, source, n_chars)`` with
    doc ids ``0..n_docs-1`` (the testdata table's shape); ``eval_docs`` rows
    are ``(doc_id, text)``; ``embeddings`` rows are ``(doc_id, vector)``.
    Planted on top of 20..100-word soup: exact and near-duplicate copies
    of earlier documents, curation rejects (too short, no language
    marker, low stopword density), boilerplate passages, passages copied
    from the eval split, and embeddings that nearly copy an earlier
    document's vector."""
    n_docs, n_eval = CORPUS_DOCS, CORPUS_EVAL
    rng = np.random.default_rng(seed)
    eval_texts = [_soup(rng, int(rng.integers(40, 81))) for _ in range(n_eval)]
    roles = np.array(["plain"] * n_docs, dtype=object)
    pick = rng.permutation(np.arange(1, n_docs))  # doc 0 stays plain
    counts = {
        "exact_dup": int(n_docs * EXACT_DUP_SHARE),
        "near_dup": int(n_docs * NEAR_DUP_SHARE),
        "reject": int(n_docs * REJECT_SHARE),
        "contaminated": int(n_docs * CONTAMINATED_SHARE),
    }
    pos = 0
    for role, k in counts.items():
        roles[pick[pos:pos + k]] = role
        pos += k
    docs: list[tuple] = []
    words_of: list[list[str]] = []
    n_boiler = 0
    for i in range(n_docs):
        role = roles[i]
        if role in ("exact_dup", "near_dup"):
            words = list(words_of[int(rng.integers(0, i))])
            if role == "near_dup":
                for j in rng.integers(0, len(words), 2):
                    words[j] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
        elif role == "reject":
            kind = i % 3
            if kind == 0:  # too short
                words = _soup(rng, int(rng.integers(5, 15)))
            elif kind == 1:  # no language marker
                words = _soup(rng, int(rng.integers(30, 60)), FOREIGN_VOCAB)
            else:  # one stopword in 120+ tokens
                words = ["the"] + _soup(
                    rng, int(rng.integers(120, 160)), NON_STOP_VOCAB
                )
        else:
            words = _soup(rng, int(rng.integers(20, 101)))
            if role == "contaminated":
                src = eval_texts[int(rng.integers(0, n_eval))]
                at = int(rng.integers(0, len(src) - 30))
                cut = int(rng.integers(0, len(words)))
                words = words[:cut] + src[at:at + 30] + words[cut:]
            if rng.random() < BOILERPLATE_SHARE:
                cut = int(rng.integers(0, len(words)))
                bp = BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))]
                words = words[:cut] + bp.split() + words[cut:]
                n_boiler += 1
        words_of.append(words)
        text = " ".join(words)
        docs.append(
            (
                i,
                text,
                LANGS[int(rng.integers(0, len(LANGS)))],
                f"src{int(rng.integers(0, 20))}",
                len(text),
            )
        )
    labels = rng.integers(0, N_LABELS, n_docs)
    centers = rng.uniform(-0.4, 0.4, (N_LABELS, EMBED_DIMS))
    vecs = centers[labels] + rng.uniform(-0.12, 0.12, (n_docs, EMBED_DIMS))
    n_sem = int(n_docs * SEMANTIC_DUP_SHARE)
    for i in rng.choice(np.arange(1, n_docs), n_sem, replace=False):
        twin = int(rng.integers(0, i))
        vecs[i] = vecs[twin] + rng.uniform(-0.005, 0.005, EMBED_DIMS)
    vecs = vecs.astype(np.float32)
    embeddings = [(i, vecs[i].tolist()) for i in range(n_docs)]
    eval_docs = [(n_docs + j, " ".join(t)) for j, t in enumerate(eval_texts)]
    n_dup = counts["exact_dup"] + counts["near_dup"]
    props = {
        "docs": n_docs,
        "eval_docs": n_eval,
        "input_bytes": sum(len(d[1].encode()) for d in docs),
        "planted_duplicate_fraction": round(n_dup / n_docs, 6),
        "planted_rejects": counts["reject"],
        "planted_boilerplate_docs": n_boiler,
        "planted_semantic_dups": n_sem,
        "eval_overlap_docs": counts["contaminated"],
    }
    return docs, eval_docs, embeddings, props

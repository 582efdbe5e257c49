"""Seeded inputs of the benchmark: corpus, query pool, request stream and
the streamed batch plan.

Everything here is a pure function of the workload seed, so the same seed
gives the same inputs and the program under test receives only what these
functions generate. No Spark is imported; the tests of this file run in a
plain interpreter.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pageindex_spark.sources.corpus import make_documents, make_queries

# Popularity skew of the request stream over the 50-query pool: rank r is
# drawn with weight r**-ZIPF_S, so the head queries repeat as in real logs.
ZIPF_S = 0.8
# Salts keep the stream, the delete picks and the corpus independent draws
# of one seed.
_STREAM_SALT = 0x5EED_0001
_DELETE_SALT = 0x5EED_0002


def corpus(n_docs: int, seed: int):
    """The workload corpus: ``sources.corpus.make_documents`` at this seed."""
    return make_documents(n_docs, seed=seed)


def query_pool(seed: int) -> list[tuple[int, str]]:
    """50 queries in the FIXTURES mix: single, two and three terms over the
    Zipf head, mid and tail, including heavy+rare combinations."""
    return make_queries(seed)


# Term-count classes in the FIXTURES proportions (20 single, 20 two-term,
# 10 three-term queries): requests cycle through this pattern, so every
# seed's stream holds the same mix and only the queries within a class vary.
CLASS_CYCLE = (1, 2, 1, 2, 3)


def request_stream(seed: int, n_requests: int) -> list[tuple[int, str]]:
    """Closed-loop request stream, one pool query per request. Request i
    takes the term-count class ``CLASS_CYCLE[i % 5]`` and draws a query of
    that class Zipf-style over a seeded permutation, so popular queries
    repeat as in real logs."""
    rng = np.random.default_rng([seed, _STREAM_SALT])
    classes: dict[int, list[tuple[int, str]]] = {}
    for q in query_pool(seed):
        classes.setdefault(len(q[1].split()), []).append(q)
    draws = {}
    for c, qs in sorted(classes.items()):
        order = rng.permutation(len(qs))
        weights = np.arange(1, len(qs) + 1, dtype=np.float64) ** -ZIPF_S
        ranks = rng.choice(len(qs), size=n_requests, p=weights / weights.sum())
        draws[c] = [qs[int(order[r])] for r in ranks]
    return [draws[CLASS_CYCLE[i % len(CLASS_CYCLE)]][i] for i in range(n_requests)]


@dataclass(frozen=True)
class Batch:
    """One streamed micro-batch: url-ascending rows and the urls deleted
    right after it becomes searchable."""

    urls: tuple[str, ...]
    texts: tuple[str, ...]
    deletes: tuple[str, ...]


def batch_plan(
    urls: list[str], texts: list[str], n_batches: int, deletes_per_batch: int,
    seed: int,
) -> list[Batch]:
    """Split the corpus into ``n_batches`` contiguous url-ascending slices.

    Url order across batches keeps docID order equal to url order (each
    batch's docIDs follow the previous batch's). Each batch names a few of
    its own urls to delete once it is searchable."""
    order = sorted(range(len(urls)), key=lambda i: urls[i])
    rng = np.random.default_rng([seed, _DELETE_SALT])
    bounds = np.linspace(0, len(order), n_batches + 1).astype(int)
    plan = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        idx = order[lo:hi]
        picks = rng.choice(len(idx), size=min(deletes_per_batch, len(idx)), replace=False)
        plan.append(
            Batch(
                urls=tuple(urls[i] for i in idx),
                texts=tuple(texts[i] for i in idx),
                deletes=tuple(sorted(urls[idx[int(p)]] for p in picks)),
            )
        )
    return plan

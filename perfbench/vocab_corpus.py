"""Large-vocabulary source corpus for the ``kg_build_vocab`` workload.

``cosmos_spark.corpus`` draws every identifier from 10 stems, so its
entities dim has 37 rows at any scale and canonicalization, the alias
broadcast and linking never carry load. This generator draws identifiers
from a vocabulary that grows with the corpus:

- stems are three words from ``WORDS`` (64**3 = 262,144 stems), chosen
  by a log-uniform rank, i.e. Zipf popularity with exponent 1;
- each occurrence is spelled as the plain stem, a camelCase variant (same
  normalized name, so an alias only), a ``_vN`` affix variant (a new dim
  row that fuzzy-links to the stem and, being long, usually passes the
  0.7 trigram-Jaccard canonicalization threshold) or a typo variant (a
  doubled or dropped letter near the end of the name).

Every file is a pure function of ``(seed, index)``, so the corpus is the
same whether rows are built here on the driver (:func:`vocab_rows`, used
by the tests and the reference checks) or on the executors
(:func:`vocab_corpus_spark`, ``spark.range`` + ``mapInPandas``).
"""

from __future__ import annotations

import hashlib
import math
import random

import pandas as pd

WORDS = [
    "load", "parse", "fetch", "write", "merge", "score", "build", "read",
    "emit", "scan", "sort", "index", "split", "join", "rank", "train",
    "table", "frame", "graph", "token", "model", "batch", "cache", "query",
    "entity", "alias", "triple", "segment", "mention", "vector", "schema",
    "config", "record", "buffer", "stream", "filter", "bucket", "sketch",
    "window", "report", "update", "delete", "insert", "commit", "branch",
    "source", "target", "output", "header", "footer", "policy", "driver",
    "worker", "server", "client", "session", "handle", "offset", "weight",
    "metric", "sample", "layout", "format", "status",
]
N_STEMS = len(WORDS) ** 3
COLUMNS = ["repo", "path", "commit", "lang", "content", "content_sha256"]


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def stem_at(rank: int) -> str:
    """The stem with popularity ``rank`` (0 = most popular)."""
    n = len(WORDS)
    return "_".join((WORDS[rank % n], WORDS[(rank // n) % n],
                     WORDS[(rank // (n * n)) % n]))


def _rank(rng: random.Random) -> int:
    return min(int(math.exp(rng.random() * math.log(N_STEMS))) - 1,
               N_STEMS - 1)


def spell(rng: random.Random, stem: str) -> str:
    """One occurrence of ``stem``: plain, camelCase, ``_vN`` or typo."""
    u = rng.random()
    if u < 0.55:
        return stem
    if u < 0.75:
        head, *rest = stem.split("_")
        return head + "".join(p.capitalize() for p in rest)
    if u < 0.93:
        return f"{stem}_v{rng.randint(1, 9)}"
    i = rng.randint(len(stem) - 4, len(stem) - 2)
    if rng.random() < 0.5:
        return stem[:i] + stem[i] + stem[i:]      # doubled letter
    return stem[:i] + stem[i + 1:]                # dropped letter


def _name(rng: random.Random) -> str:
    return spell(rng, stem_at(_rank(rng)))


def file_content(rng: random.Random, n_defs: int) -> str:
    """A python module: an import block, a prose comment and ``n_defs``
    functions, each calling another vocabulary name."""
    blocks = [
        f"import pkg.{rng.choice(WORDS)}\n"
        f"from pkg.{rng.choice(WORDS)} import {_name(rng)}",
        f"# helpers for {stem_at(_rank(rng))} and {stem_at(_rank(rng))}",
    ]
    for k in range(n_defs):
        blocks.append(f"def {_name(rng)}(x, y):\n"
                      f"    z = {_name(rng)}(x, {k})\n"
                      f"    return z + y")
    return "\n\n".join(blocks) + "\n"


def vocab_row(seed: int, idx: int, n_repos: int,
              defs_per_file: int) -> dict:
    """Pure function (seed, idx) -> source row."""
    rng = random.Random(f"{seed}|vocab|{idx}")
    repo = f"vorg{idx % 3}/vrepo_{idx % n_repos:03d}"
    path = f"src/p{(idx // n_repos) % 50:02d}/mod_{idx:06d}.py"
    content = file_content(rng, defs_per_file)
    return {"repo": repo, "path": path,
            "commit": _sha(f"commit|{repo}|{path}")[:40],
            "lang": "python", "content": content,
            "content_sha256": _sha(content)}


def vocab_rows(seed: int, indices, n_repos: int,
               defs_per_file: int) -> pd.DataFrame:
    """Driver-side rows for ``indices`` (tests and reference checks)."""
    return pd.DataFrame([vocab_row(seed, int(i), n_repos, defs_per_file)
                         for i in indices], columns=COLUMNS)


def vocab_corpus_spark(spark, seed: int, n_files: int, n_repos: int,
                       defs_per_file: int, partitions: int = 16):
    """Executor-side corpus over file indices ``[0, n_files)``:
    ``spark.range`` + ``mapInPandas``, rows identical to :func:`vocab_rows`."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in COLUMNS])

    def gen(it):
        for pdf in it:
            yield vocab_rows(seed, pdf["id"], n_repos, defs_per_file)

    return spark.range(0, n_files, 1, partitions).mapInPandas(gen, schema)

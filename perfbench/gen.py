"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same arguments
write byte-identical parquet files and return the same ground truth.  The
program under test only ever sees the parquet files; the ground truth
stays with the benchmark, which uses it to check outputs.

Layout: ``documents.parquet`` is a DIRECTORY of ``files`` parquet files
(one row group each), so Spark's file source plans one scan split per
file even for corpora far below ``spark.sql.files.maxPartitionBytes``.
``embeddings.parquet`` is laid out the same way.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Lexicon and gate constants mirror the program's public constants; the
# benchmark imports nothing from the package here so that generation has
# no Spark dependency.
POSITIVE = ("fast", "good", "excellent", "nice")
NEGATIVE = ("slow", "bad", "terrible", "dup")
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
LANGS = ("en", "es", "fr", "de")
N_SOURCES = 8
EVAL_DOCS = 20  # curation_ext._EVAL_DOCS: doc_ids below it are the eval set
EXACT_SPAN = 40  # curation_ext._EXACT_SPAN
DECON_N = 8  # curation_ext._DECON_N
DIM = 64

_SYL = (
    "ka", "lo", "mi", "ne", "pu", "ra", "si", "to", "vu", "ze", "bo", "da",
    "fe", "gi", "ho", "ju", "ly", "mo", "nu", "pe", "qi", "ru", "sa", "ti",
)


def vocabulary(n: int) -> list[str]:
    """``n`` distinct filler words (3 syllables), none a lexicon word."""
    words = []
    for a in _SYL:
        for b in _SYL:
            for c in _SYL:
                words.append(a + b + c)
    if n > len(words):
        raise ValueError(f"vocabulary holds {len(words)} words, asked {n}")
    return words[:n]


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _docs_table(ids, texts, rng: np.random.Generator) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, N_SOURCES, n)]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_split(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` equal slices under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = math.ceil(table.num_rows / files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(
            part, os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=max(part.num_rows, 1),
        )


# ---------------------------------------------------------------------------
# corpus_pipeline: planted gate failures, near-dup clusters, eval leaks
# ---------------------------------------------------------------------------


def curation_corpus(seed: int, n_docs: int, out_dir: str, files: int) -> dict:
    """A corpus with a known answer for every curation stage.

    Planted, by doc id:
    - ``gate_fail``: docs the quality gate must drop (too short, no
      stopword, or a word over 25 chars);
    - ``dup_clusters``: near-duplicate clusters (each variant is its base
      plus one word, Jaccard well above the 0.5 threshold); the pipeline
      keeps the smallest id of each;
    - ``exact_leaks``: docs holding an eval doc's first 40 characters;
    - ``ngram_leaks``: docs holding an 8-word span from inside an eval doc.
    Everything else is random text over a 13,824-word vocabulary plus
    stopwords and sentiment lexicon words, so no unplanted pair shares a
    word 3-gram or an 8-gram by chance.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(len(_SYL) ** 3)
    n_gate_fail = int(0.08 * n_docs)
    n_exact = max(2, int(0.005 * n_docs))
    n_ngram = max(2, int(0.005 * n_docs))
    dup_members = int(0.10 * n_docs)

    def random_text(n_words: int) -> list[str]:
        toks = [vocab[i] for i in rng.integers(0, len(vocab), n_words)]
        slots = rng.permutation(n_words)
        n_stop = max(1, n_words // 6)
        for j in slots[:n_stop]:
            toks[int(j)] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        # sentiment lexicon density varies per doc so that the analysis
        # job sees POSITIVE, NEGATIVE and low-margin NEUTRAL docs
        mood = rng.choice(3, p=[0.4, 0.3, 0.3])
        if mood == 0:
            words = [POSITIVE] * (rng.poisson(2.0) + 1) + [NEGATIVE] * rng.poisson(0.2)
        elif mood == 1:
            words = [POSITIVE] * rng.poisson(0.2) + [NEGATIVE] * (rng.poisson(2.0) + 1)
        else:
            k = rng.poisson(0.8)
            words = [POSITIVE] * k + [NEGATIVE] * k
        for j, lex in zip(slots[n_stop:], words):
            toks[int(j)] = lex[int(rng.integers(0, len(lex)))]
        return toks

    texts: list[str | None] = [None] * n_docs
    for i in range(EVAL_DOCS):
        texts[i] = " ".join(random_text(int(rng.integers(40, 60))))
    ids = np.arange(EVAL_DOCS, n_docs)
    rng.shuffle(ids)
    cursor = 0

    def take(k: int) -> list[int]:
        nonlocal cursor
        out = sorted(int(x) for x in ids[cursor:cursor + k])
        cursor += k
        return out

    gate_fail = take(n_gate_fail)
    for n, i in enumerate(gate_fail):
        kind = n % 3
        if kind == 0:  # too short
            texts[i] = " ".join(random_text(4))
        elif kind == 1:  # no stopword
            texts[i] = " ".join(
                vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(20, 40)))
            )
        else:  # one over-long word
            toks = random_text(int(rng.integers(20, 40)))
            toks[0] = "x" * 30
            texts[i] = " ".join(toks)

    exact_leaks = take(n_exact)
    for i in exact_leaks:
        ev = texts[int(rng.integers(0, EVAL_DOCS))]
        pre, post = random_text(10), random_text(20)
        texts[i] = " ".join(pre) + " " + ev[:EXACT_SPAN] + " " + " ".join(post)
    ngram_leaks = take(n_ngram)
    for i in ngram_leaks:
        ev = texts[int(rng.integers(0, EVAL_DOCS))].split(" ")
        span = ev[10:10 + DECON_N]
        texts[i] = " ".join(random_text(12) + span + random_text(20))

    clusters: list[list[int]] = []
    planted = 0
    while planted < dup_members:
        size = int(rng.integers(2, 5))
        members = take(size)
        base = random_text(int(rng.integers(80, 120)))
        for m in members:
            # the first member keeps the base text; each other member
            # appends one word, so every pair has word-3-gram Jaccard
            # >= 0.97, where the 4x4 MinHash banding misses a pair with
            # probability below 1e-5
            extra = [] if m == members[0] else [vocab[int(rng.integers(0, len(vocab)))]]
            texts[m] = " ".join(base + extra)
        clusters.append(members)
        planted += size
    for i in ids[cursor:]:
        texts[int(i)] = " ".join(random_text(int(rng.integers(25, 70))))
    table = _docs_table(list(range(n_docs)), texts, rng)
    write_split(table, os.path.join(out_dir, "documents.parquet"), files)
    return {
        "docs": n_docs,
        "files": files,
        "gate_fail": gate_fail,
        "dup_clusters": clusters,
        "exact_leaks": exact_leaks,
        "ngram_leaks": ngram_leaks,
        "sources": table.column("source").to_pylist(),
        "gate_pass_share": round(1 - n_gate_fail / n_docs, 4),
        "near_dup_share": round(sum(len(c) for c in clusters) / n_docs, 4),
        "leak_share": round((n_exact + n_ngram) / n_docs, 4),
    }


# ---------------------------------------------------------------------------
# vector_search: clustered embeddings + a corpus, query and ingest streams
# ---------------------------------------------------------------------------


def vector_inputs(
    seed: int,
    n_vecs: int,
    n_docs: int,
    out_dir: str,
    files: int,
    n_ops: int,
    ingest_every: int,
    ingest_rows: int,
) -> dict:
    """Base corpora for both indexes plus the client's operation script.

    - ``embeddings.parquet``: ``n_vecs`` x 64 float32 vectors around 32
      cluster centres; ``label`` is the cluster (the IVF codebook trains
      one centroid per label).
    - ``documents.parquet``: ``n_docs`` docs over a Zipf vocabulary.
    - ``ops``: ``n_ops`` client operations.  kNN queries draw from a pool
      of 64 query vectors and BM25 queries from a pool of 64 word pairs,
      both Zipf-skewed, so some queries repeat; every ``ingest_every``-th
      operation is an ingest of ``ingest_rows`` new vectors and docs,
      made by :func:`vector_batch`.
    """
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(N_CLUSTERS, DIM))
    labels = rng.integers(0, N_CLUSTERS, n_vecs)
    base = _cluster_points(rng, centres, labels)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(base), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    write_split(emb, os.path.join(out_dir, "embeddings.parquet"), files)
    base_texts = _zipf_texts(rng, n_docs)
    docs = _docs_table(list(range(n_docs)), base_texts, rng)
    write_split(docs, os.path.join(out_dir, "documents.parquet"), files)

    pool_q = _cluster_points(rng, centres, rng.integers(0, N_CLUSTERS, 64)).astype(np.float64)
    vocab = vocabulary(VECTOR_VOCAB)
    # word pairs from vocab ranks 20..800: frequent enough to match docs,
    # rare enough that df stays well below n
    pool_w = [
        tuple(sorted(set(vocab[int(i)] for i in rng.integers(20, 800, 2))))
        for _ in range(64)
    ]
    pick = rng.choice(64, size=n_ops, p=zipf_probs(64, 1.1))
    ops = []
    n_queries = 0
    for i in range(n_ops):
        if (i + 1) % ingest_every == 0:
            ops.append(("ingest", None))
        else:
            ops.append(("knn" if n_queries % 2 == 0 else "bm25", int(pick[i])))
            n_queries += 1
    return {
        "seed": seed, "vecs": n_vecs, "docs": n_docs, "files": files,
        "ingest_rows": ingest_rows, "centres": centres,
        "base_vecs": base, "base_texts": base_texts,
        "pool_q": pool_q, "pool_w": pool_w, "ops": ops,
    }


N_CLUSTERS = 32
VECTOR_VOCAB = 4000


def _cluster_points(rng, centres, labels) -> np.ndarray:
    return (centres[labels] + 1.6 * rng.normal(size=(len(labels), DIM))).astype(np.float32)


def _zipf_texts(rng, n: int) -> list[str]:
    vocab = vocabulary(VECTOR_VOCAB)
    p_vocab = zipf_probs(len(vocab), 1.0)
    out = []
    for ln in rng.integers(15, 50, n):
        toks = [vocab[i] for i in rng.choice(len(vocab), int(ln), p=p_vocab)]
        for j in rng.choice(int(ln), size=int(ln) // 5, replace=False):
            toks[int(j)] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        out.append(" ".join(toks))
    return out


def vector_batch(inp: dict, b: int) -> dict:
    """Ingest batch ``b`` (new vector and doc ids after the base corpora)."""
    rng = np.random.default_rng([inp["seed"], 4, b])
    n = inp["ingest_rows"]
    lo, doc_lo = inp["vecs"] + b * n, inp["docs"] + b * n
    return {
        "vec_ids": np.arange(lo, lo + n),
        "vecs": _cluster_points(rng, inp["centres"], rng.integers(0, N_CLUSTERS, n)),
        "doc_ids": list(range(doc_lo, doc_lo + n)),
        "texts": _zipf_texts(rng, n),
    }


def write_ingest_batch(batch: dict, vec_dir: str, doc_dir: str, b: int) -> None:
    """Land ingest batch ``b`` as one new file in each stream source dir."""
    os.makedirs(vec_dir, exist_ok=True)
    os.makedirs(doc_dir, exist_ok=True)
    rng = np.random.default_rng([b, 5])
    emb = pa.table(
        {
            "vec_id": pa.array(batch["vec_ids"], pa.int64()),
            "embedding": pa.array(list(batch["vecs"]), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(len(batch["vec_ids"]), np.int32), pa.int32()),
        }
    )
    # write under a dot-name first: the stream source lists the dir
    tmp = os.path.join(vec_dir, f".tmp-{b}")
    pq.write_table(emb, tmp)
    os.replace(tmp, os.path.join(vec_dir, f"embeddings-{b:05d}.parquet"))
    docs = _docs_table(batch["doc_ids"], batch["texts"], rng)
    tmp = os.path.join(doc_dir, f".tmp-{b}")
    pq.write_table(docs, tmp)
    os.replace(tmp, os.path.join(doc_dir, f"docs-{b:05d}.parquet"))


def md5_int31(s: str) -> int:
    """Python twin of functions.hashing.md5_int31."""
    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


def file_digest(root: str) -> str:
    """sha256 over every file under ``root`` (names and bytes, sorted)."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()

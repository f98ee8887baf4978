"""Seeded benchmark inputs and their expected outputs, cached per seed.

Every input is a pure function of (workload size, seed) and the source of
the code that generates or judges it. The cache key hashes that source
(the whole ``apollo_spark`` package, ``__spark_entry__.py`` and this
file), so an edit to ``synth.py``, ``oracle.py`` or anything they use
never reuses a stale entry. Cache entries are written to a temporary
directory and renamed into place, so an interrupted run leaves no
half-written entry behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

import numpy as np
import pandas as pd

from perfbench import ROOT, WORK

CACHE = os.path.join(WORK, "cache")

# Words of the ladder's generated documents, the same 31-word vocabulary
# as the repository's TPC-H-style test corpora, so the text operators see
# the same token statistics.
_DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
              "join key line merge order part query row scan slow small "
              "sort spark stream table the value vector window").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _source_hash() -> str:
    """Hash of every source file inputs or expected outputs depend on:
    the program (the generators, the oracles and what they import) and
    this file."""
    h = hashlib.sha256()
    files = [os.path.join(d, n)
             for d, _, names in os.walk(os.path.join(ROOT, "apollo_spark"))
             for n in names if n.endswith(".py")]
    files += [os.path.join(ROOT, "__spark_entry__.py"),
              os.path.join(ROOT, "perfbench", "inputs.py")]
    for path in sorted(files):
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def _cached(name: str, build) -> str:
    """Directory ``CACHE/name``, built by ``build(tmpdir)`` if absent."""
    path = os.path.join(CACHE, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    os.makedirs(CACHE, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=CACHE, prefix=".tmp-")
    try:
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


# -- image corpora (fresh_build, append_delta) -------------------------------

def _corpus(n_rows: int, seed: int, id_prefix: str) -> pd.DataFrame:
    from apollo_spark import synth
    pdf = synth.gen_corpus(n_rows, seed=seed).drop(columns=["gt_cluster"])
    if id_prefix:
        pdf["image_id"] = id_prefix + pdf["image_id"]
    return pdf


def _signatures(bags: pd.DataFrame) -> dict[str, bytes]:
    from apollo_spark import oracle
    from apollo_spark.config import PipelineConfig
    return oracle.signatures(bags, PipelineConfig())


def _oracle_pairs(images: pd.DataFrame, procs: int) -> list[list[str]]:
    """The duplicate pairs ``oracle.cluster`` finds in ``images``, sorted.
    Its steps are composed here so that the per-document signature loop,
    nearly all of its time, runs in ``procs`` processes.

    The processes are forked: a spawn pool would also start
    multiprocessing's resource-tracker process, which outlives the pool
    and ends only after this process has exited. Callers run this before
    Spark or Arrow have started threads in this process."""
    from concurrent.futures import ProcessPoolExecutor
    from multiprocessing import get_context

    from apollo_spark import oracle
    from apollo_spark.config import PipelineConfig
    from apollo_spark.core import ccref
    cfg = PipelineConfig()
    bags = oracle.tfidf_bags(oracle.extract_bags(images, cfg), cfg)
    ids = np.array(sorted(bags["image_id"].unique()))
    parts = [bags[bags["image_id"].isin(set(chunk))]
             for chunk in np.array_split(ids, procs)]
    sigs: dict[str, bytes] = {}
    with ProcessPoolExecutor(procs, mp_context=get_context("fork")) as pool:
        for part in pool.map(_signatures, parts):
            sigs.update(part)
    comps = ccref.connected_components(
        oracle.band_buckets(sigs, cfg).values())
    return sorted([min(a, b), max(a, b)] for a, b in ccref.dup_pairs(comps))


def image_inputs(base_rows: int, seed: int, delta_rows: int = 0) -> dict:
    """Base corpus (and optional delta with its own seed and ``d`` id
    prefix) as parquet, plus the oracle pairs of base + delta.

    Returns ``{"base": path, "delta": path | None, "pairs": [[a, b], ...]}``.
    """
    name = f"images-{base_rows}-{delta_rows}-s{seed}-{_source_hash()}"

    def build(tmp: str) -> None:
        base = _corpus(base_rows, seed, "")
        full = base
        if delta_rows:
            # its own seed and id space, as a later crawl would have
            delta = _corpus(delta_rows, seed + 1_000_003, "d")
            full = pd.concat([base, delta], ignore_index=True)
        # the oracle forks, so it runs before Arrow writes any Parquet
        pairs = _oracle_pairs(full, len(os.sched_getaffinity(0)))
        with open(os.path.join(tmp, "pairs.json"), "w") as f:
            json.dump(pairs, f)
        base.to_parquet(os.path.join(tmp, "base.parquet"), index=False)
        if delta_rows:
            delta.to_parquet(os.path.join(tmp, "delta.parquet"), index=False)

    path = _cached(name, build)
    with open(os.path.join(path, "pairs.json")) as f:
        pairs = json.load(f)
    return {"base": os.path.join(path, "base.parquet"),
            "delta": (os.path.join(path, "delta.parquet")
                      if delta_rows else None),
            "pairs": pairs}


# -- ladder tables (operator_ladder) -----------------------------------------

def _documents(n_docs: int, rng: np.random.Generator) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars) with planted exact
    copies (~1%) and near-copies (~5%, one word appended or replaced), so
    every dedup operator has positives to find."""
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words.append("dup")
            else:
                words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(
                _DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), n)))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(n_vecs: int, dim: int,
                rng: np.random.Generator) -> pd.DataFrame:
    """embeddings(vec_id, embedding float[dim] unit-norm, label) with ~5%
    planted near-copies (cosine > 0.9 to an earlier vector)."""
    v = rng.standard_normal((n_vecs, dim))
    for i in range(10, n_vecs):
        if rng.random() < 0.05:
            v[i] = v[int(rng.integers(0, i))] + 0.3 * rng.standard_normal(dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})


def ladder_inputs(n_docs: int, n_vecs: int, seed: int,
                  queries: list[str]) -> dict:
    """``documents``/``embeddings`` parquet tables in one directory (the
    layout ``__spark_entry__.queries()`` reads) plus, per query, the
    DuckDB result of its ``oracle_sql()`` twin as parquet.

    Returns ``{"dir": path, "expected": {query: path}}``."""
    name = f"ladder-{n_docs}-{n_vecs}-s{seed}-{_source_hash()}"

    def build(tmp: str) -> None:
        import duckdb
        rng = np.random.default_rng(np.random.PCG64(seed))
        _documents(n_docs, rng).to_parquet(
            os.path.join(tmp, "documents.parquet"), index=False)
        _embeddings(n_vecs, 64, rng).to_parquet(
            os.path.join(tmp, "embeddings.parquet"), index=False)
        # oracle_sql() trains its centroid and signature literals on the
        # directory this variable names
        os.environ["SPARK_GRAFT_ORACLE_SF"] = tmp
        import __spark_entry__ as entry
        sqls = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(tmp, t)}.parquet'")
            for q in queries:
                con.execute(sqls[q]).fetchdf().to_parquet(
                    os.path.join(tmp, f"expected-{q}.parquet"), index=False)
        finally:
            con.close()

    path = _cached(name, build)
    return {"dir": path,
            "expected": {q: os.path.join(path, f"expected-{q}.parquet")
                         for q in queries}}

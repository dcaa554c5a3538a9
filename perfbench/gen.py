"""Seeded benchmark inputs: a Gaussian mixture on the unit sphere.

Everything here is NumPy + pyarrow; no Spark job runs while inputs are
made, so the program under test only ever sees the parquet files.

* ``n_clusters`` centres are drawn uniformly on the sphere; a point is
  ``normalize(centre + sigma * g)`` with ``g ~ N(0, I_dim)``.  With
  ``sigma = sqrt(0.25 / dim)`` two points of one cluster have an
  expected cosine of ``1 / (1 + dim * sigma^2) = 0.8``.
* queries are fresh draws from the same mixture, never corpus members.
* ground truth is the exact top-k by cosine (NumPy float64 matmul),
  ties broken by ascending id — the order the program's rerank uses.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
WITHIN_CLUSTER_COS = 0.8
SIGMA = float(np.sqrt((1.0 / WITHIN_CLUSTER_COS - 1.0) / DIM))
POINTS_PER_CLUSTER = 100


class Mixture:
    """One seeded mixture; every draw advances the same generator, so a
    fixed sequence of calls gives byte-identical arrays for one seed."""

    def __init__(self, seed: int, n_clusters: int, dim: int = DIM):
        self.rng = np.random.default_rng(seed)
        c = self.rng.standard_normal((n_clusters, dim))
        self.centres = c / np.linalg.norm(c, axis=1, keepdims=True)

    def draw(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, len(self.centres), n)
        x = self.centres[lab] + SIGMA * self.rng.standard_normal(
            (n, self.centres.shape[1]))
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        return x.astype(np.float32)


def unit64(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def exact_topk(queries: np.ndarray, corpus: np.ndarray, ids: np.ndarray,
               k: int = 10, block: int = 256) -> np.ndarray:
    """``(n_queries, k)`` ids of the exact top-k by cosine, ordered by
    (score desc, id asc)."""
    cu = unit64(corpus)
    out = np.empty((len(queries), k), dtype=np.int64)
    for s in range(0, len(queries), block):
        sc = unit64(queries[s:s + block]) @ cu.T
        part = np.argpartition(-sc, k, axis=1)[:, :k + 1]
        for r in range(len(sc)):
            cand = part[r]
            order = np.lexsort((ids[cand], -sc[r, cand]))[:k]
            out[s + r] = ids[cand[order]]
    return out


def write_vectors(path: str, ids, vecs, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> str:
    """``(id bigint, vector array<float>)`` parquet, the schema
    ``LSHRS.index_dataframe`` and ``query_batch`` read."""
    flat = pa.array(np.ascontiguousarray(vecs, dtype=np.float32).reshape(-1))
    lists = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1])
    pq.write_table(pa.table({
        id_col: pa.array(np.asarray(ids, dtype=np.int64)),
        vec_col: lists.cast(pa.list_(pa.float32())),
    }), path, compression="snappy")
    return path


def make_inputs(out_dir: str, seed: int, *, n_corpus: int, n_queries: int,
                n_batches: int = 0, batch_size: int = 0,
                k: int = 10) -> dict:
    """Write ``corpus.parquet`` (vec_id, embedding), ``queries.parquet``
    (qid, qvec), ``truth.parquet`` (qid, exact top-k ids) and, for the
    ingest workload, ``batch_XXX.parquet`` append batches whose ids
    continue after the corpus.  Returns the in-memory arrays too, so
    checks need not re-read what was just written."""
    os.makedirs(out_dir, exist_ok=True)
    mix = Mixture(seed, max(1, n_corpus // POINTS_PER_CLUSTER))
    corpus = mix.draw(n_corpus)
    queries = mix.draw(n_queries)
    batches = [mix.draw(batch_size) for _ in range(n_batches)]
    ids = np.arange(n_corpus, dtype=np.int64)
    truth = exact_topk(queries, corpus, ids, k) if n_queries else \
        np.empty((0, k), dtype=np.int64)
    files = {
        "corpus": write_vectors(os.path.join(out_dir, "corpus.parquet"),
                                ids, corpus),
        "queries": write_vectors(os.path.join(out_dir, "queries.parquet"),
                                 np.arange(n_queries), queries,
                                 "qid", "qvec"),
        "batches": [],
    }
    pq.write_table(pa.table({
        "qid": pa.array(np.arange(n_queries, dtype=np.int64)),
        "truth": pa.array(list(truth), pa.list_(pa.int64())),
    }), os.path.join(out_dir, "truth.parquet"))
    for b, vecs in enumerate(batches):
        start = n_corpus + b * batch_size
        files["batches"].append(write_vectors(
            os.path.join(out_dir, f"batch_{b:03d}.parquet"),
            np.arange(start, start + batch_size), vecs))
    return {"files": files, "corpus": corpus, "queries": queries,
            "truth": truth, "batches": batches}


def read_lists(path: str, col: str) -> np.ndarray:
    """A parquet column of equal-length lists as a 2-d array."""
    lists = pq.read_table(path, columns=[col]).column(col).combine_chunks()
    return lists.flatten().to_numpy().reshape(len(lists), -1)


def load_inputs(out_dir: str, *, n_batches: int = 0) -> dict:
    """Read back what :func:`make_inputs` wrote into ``out_dir``, in the
    shape it returns."""
    def at(name):
        return os.path.join(out_dir, name)

    batches = [at(f"batch_{b:03d}.parquet") for b in range(n_batches)]
    files = {"corpus": at("corpus.parquet"),
             "queries": at("queries.parquet"), "batches": batches}
    return {
        "files": files,
        "corpus": read_lists(files["corpus"], "embedding"),
        "queries": read_lists(files["queries"], "qvec"),
        "truth": read_lists(at("truth.parquet"), "truth"),
        "batches": [read_lists(b, "embedding") for b in batches],
    }


def main(argv=None) -> None:
    """``python3 gen.py OUT_DIR SEED N_CORPUS N_QUERIES [N_BATCHES
    BATCH_SIZE]``: the benchmark makes its inputs in a child process,
    so the generator's and the ground truth's memory never counts in
    the measured process's peak RSS."""
    p = argparse.ArgumentParser(description="write seeded benchmark inputs")
    p.add_argument("out_dir")
    for name in ("seed", "n_corpus", "n_queries"):
        p.add_argument(name, type=int)
    p.add_argument("n_batches", type=int, nargs="?", default=0)
    p.add_argument("batch_size", type=int, nargs="?", default=0)
    a = p.parse_args(argv)
    make_inputs(a.out_dir, a.seed, n_corpus=a.n_corpus,
                n_queries=a.n_queries, n_batches=a.n_batches,
                batch_size=a.batch_size)


if __name__ == "__main__":
    main()

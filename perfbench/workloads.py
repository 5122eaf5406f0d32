"""Workload definitions: parameters, pinned outputs, inputs and checks.

Each workload has a fixed corpus (generated once from a fixed generator
seed and cached by its parameters); the run's ``--seed`` only permutes
the input's row order, so every seed must give byte-identical outputs and
the expected outputs can be pinned here.

* ``er_clone`` — ``Pipeline(...).run(files)`` over
  ``synth_repo_files_with_truth``; mostly unique contents, so
  ``pair_features`` takes its per-file-pair Arrow-kernel branch and
  ``sha_features`` does real work.
* ``er_dup_heavy`` — the same pipeline on an unmutated corpus with more
  heavy families: big blocks, few distinct contents, so ``pair_features``
  takes its ``dedup_content=True`` branch. Runnable by name; not one of the
  workloads listed in BENCHMARK.json (see README.md).
* ``neardup_docs`` — ``minhash_near_dup_pairs(docs, threshold=0.9)`` then
  ``cluster_assignments`` over the verified pairs, on a single-row-group
  documents table (exercises ``_fan_out`` and the int32 pair narrowing).

Everything here is Spark-free, so the parent process never starts a JVM;
the iterations themselves are in child.py.
"""

from __future__ import annotations

import hashlib
import random
import re
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ER_COLUMNS = ["repo", "path", "commit", "lang", "content"]
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
# the package tokenizer: lowercase, split on [^a-z0-9_]+, keep length >= 2
_TOKEN_SPLIT = re.compile(r"[^a-z0-9_]+")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "er" or "docs"
    params: dict
    # pinned outputs of the fixed corpus (identical for every --seed)
    expect: dict = field(default_factory=dict)
    in_files: int = 8  # parquet files the permuted input is split into


WORKLOADS: dict[str, Workload] = {
    "er_clone": Workload(
        "er_clone", "er",
        dict(n_families=300, members_mean=4, heavy_families=1,
             mutations_max=4, gen_seed=42, tau=0.5),
        expect=dict(ari=1.0, clusters_sha="4e35e65d658099ce94d3644581f11115"
                                         "427414072b23d29e1f53ca378541a33e"),
    ),
    "er_dup_heavy": Workload(
        "er_dup_heavy", "er",
        dict(n_families=200, members_mean=4, heavy_families=2,
             mutations_max=0, gen_seed=42, tau=0.5),
        expect=dict(ari=1.0, clusters_sha="e47fb91c4377766dad47f1bbeb10c1f3"
                                         "6ea0b26e76dfffda3a21ccfd8182ea3c"),
    ),
    "neardup_docs": Workload(
        "neardup_docs", "docs",
        dict(n_docs=2000, gen_seed=42, threshold=0.9),
        expect=dict(pairs_sha="38660ea58f793236df4eaf264c253599"
                              "248f38c16eefaa2bc69c17e53c967995", groups=879),
        in_files=1,
    ),
}

# tiny inputs for the smoke mode (every workload in about two minutes)
SMOKE: dict[str, Workload] = {
    "er_clone": Workload(
        "er_clone", "er",
        dict(n_families=30, members_mean=4, heavy_families=0,
             mutations_max=4, gen_seed=42, tau=0.5),
        expect=dict(ari=1.0, clusters_sha="719a016be34033ab3097cfdfd24911bc"
                                         "f064f5eda7fd2d82d50985a678fcac92"),
    ),
    "er_dup_heavy": Workload(
        "er_dup_heavy", "er",
        dict(n_families=30, members_mean=4, heavy_families=0,
             mutations_max=0, gen_seed=42, tau=0.5),
        expect=dict(ari=1.0, clusters_sha="09a77e4b14d4b3baceef26f90ec37bce"
                                         "8e9647898958f96132153a71afa4a887"),
    ),
    "neardup_docs": Workload(
        "neardup_docs", "docs",
        dict(n_docs=300, gen_seed=42, threshold=0.9),
        expect=dict(pairs_sha="9217a7b52e93ccd8d02810070d2518d9"
                              "373635624ce5a472688c63cd4c016774", groups=154),
        in_files=1,
    ),
}


def get_workload(name: str, smoke: bool = False) -> Workload:
    return (SMOKE if smoke else WORKLOADS)[name]


def corpus_key(w: Workload) -> str:
    items = ",".join(f"{k}={w.params[k]}" for k in sorted(w.params))
    return f"{w.kind}-" + hashlib.sha256(items.encode()).hexdigest()[:16]


# ------------------------------------------------------------ generation


def make_documents(n_docs: int, gen_seed: int) -> pa.Table:
    """Documents shaped like the repo's ``documents`` test table: 10-100
    words from a 30-word vocabulary (so long documents share most of their
    token set and form one mega near-duplicate cluster), plus ~5 % planted
    copies of an earlier document with one extra token."""
    rng = random.Random(f"perfbench-docs:{gen_seed}")
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i % len(LANGS)] for i in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_permuted(corpus: pa.Table, out_dir: Path, seed: int, n_files: int) -> None:
    """Write ``corpus`` in the row order drawn from ``seed``, split into
    ``n_files`` parquet files of one row group each."""
    out_dir.mkdir(parents=True, exist_ok=True)
    order = np.random.default_rng(seed).permutation(corpus.num_rows)
    table = corpus.take(pa.array(order))
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, out_dir / f"part-{i:05d}.parquet",
                       row_group_size=max(1, part.num_rows))


# ---------------------------------------------------------------- checks


def ari(pred: list, truth: list) -> float:
    """Adjusted Rand index of two labelings of the same elements."""
    n = len(pred)
    if n < 2:
        return 1.0

    def c2(x: int) -> float:
        return x * (x - 1) / 2.0

    s_ij = sum(c2(c) for c in Counter(zip(pred, truth)).values())
    s_a = sum(c2(c) for c in Counter(pred).values())
    s_b = sum(c2(c) for c in Counter(truth).values())
    expected = s_a * s_b / c2(n)
    top = (s_a + s_b) / 2.0
    if top == expected:
        return 1.0
    return (s_ij - expected) / (top - expected)


def components(nodes: list, edges) -> dict:
    """Union-find connected components: node -> smallest node of its group."""
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in nodes}


def sha_of_rows(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(("\t".join(map(str, r)) + "\n").encode())
    return h.hexdigest()


def token_set(text: str) -> frozenset:
    return frozenset(t for t in _TOKEN_SPLIT.split(text.lower()) if len(t) >= 2)


def check_er(w: Workload, clusters: pa.Table, truth: dict) -> dict:
    """ARI of the (file_id, cluster_id) output against entity truth and the
    sha256 of the sorted output list."""
    fids = clusters.column("file_id").to_pylist()
    cids = clusters.column("cluster_id").to_pylist()
    sha = sha_of_rows(zip(fids, cids))
    score = ari(cids, [truth[f] for f in fids])
    problems = []
    if len(fids) != len(truth) or set(fids) != truth.keys():
        problems.append(f"{len(fids)} files clustered, {len(truth)} in input")
    if score < w.expect["ari"] - 1e-9:
        problems.append(f"ari {score:.6f} < {w.expect['ari']}")
    if sha != w.expect["clusters_sha"]:
        problems.append(f"clusters sha {sha[:16]} != pinned "
                        f"{w.expect['clusters_sha'][:16]}")
    return {"ari": score, "sha": sha, "problems": problems}


def check_docs(w: Workload, pairs: pa.Table, groups: pa.Table,
               texts: dict) -> dict:
    """Pair-set sha, group count, and an exact token-Jaccard re-check of
    every emitted pair. ``ari`` here is the agreement of the returned groups
    with union-find components over the returned pairs."""
    thr = w.params["threshold"]
    left = pairs.column("left").to_pylist()
    right = pairs.column("right").to_pylist()
    jac = pairs.column("jaccard").to_pylist()
    problems = []
    toks = {i: token_set(t) for i, t in texts.items()}
    bad = 0
    for a, b, j in zip(left, right, jac):
        ta, tb = toks[a], toks[b]
        if ta or tb:
            exact = len(ta & tb) / len(ta | tb)
        else:
            exact = 1.0 if texts[a] == texts[b] else 0.0
        if a >= b or exact < thr or abs(exact - j) > 1e-9:
            bad += 1
    if bad:
        problems.append(f"{bad} emitted pairs fail the exact Jaccard re-check")
    sha = sha_of_rows(zip(left, right))
    if sha != w.expect["pairs_sha"]:
        problems.append(f"pairs sha {sha[:16]} != pinned {w.expect['pairs_sha'][:16]}")
    gid = dict(zip(groups.column("doc_id").to_pylist(),
                   groups.column("cluster_id").to_pylist()))
    n_groups = len(set(gid.values()))
    if n_groups != w.expect["groups"]:
        problems.append(f"{n_groups} groups != pinned {w.expect['groups']}")
    if gid.keys() != texts.keys():
        problems.append(f"{len(gid)} docs grouped, {len(texts)} in input")
    uf = components(sorted(texts), zip(left, right))
    order = sorted(texts)
    score = ari([gid.get(i, -1) for i in order], [uf[i] for i in order])
    return {"ari": score, "sha": sha, "pairs": len(left), "groups": n_groups,
            "problems": problems}

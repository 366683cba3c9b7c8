"""Independent references and seeded inputs for the benchmark.

Everything here runs on the driver in NumPy/Python, outside the timed
window: the reference outputs each checked call is compared against, and
the seeded tables of the ``docs_pipeline`` workload.
"""

from __future__ import annotations

import heapq
from collections import defaultdict

import numpy as np


def edge_lists(edge_ids: np.ndarray, vertex_ids: np.ndarray) -> list[list[int]]:
    """Incidence columns -> member lists ordered by edge id (the oracle's
    ``Edges`` shape; edge ids need not be dense)."""
    members: dict[int, list[int]] = defaultdict(list)
    for e, v in zip(edge_ids.tolist(), vertex_ids.tolist()):
        members[e].append(v)
    return [sorted(members[e]) for e in sorted(members)]


def clique_pairs(edges: list[list[int]]) -> set[tuple[int, int]]:
    """Distinct (u, v), u < v, sharing a hyperedge (the clique expansion)."""
    pairs: set[tuple[int, int]] = set()
    for members in edges:
        uniq = sorted(set(members))
        for i, u in enumerate(uniq):
            for w in uniq[i + 1 :]:
                pairs.add((u, w))
    return pairs


def triangles_matmul(pairs: set[tuple[int, int]], num_vertices: int) -> int:
    """Triangle count of the clique expansion as trace(A^3) / 6.

    Exact: every entry of A @ A is a count below 2^53. Same result as
    ``oracle_triangle_count``, whose per-pair ``set(range(v + 1, n))``
    costs O(pairs x vertices) and is too slow at benchmark sizes."""
    a = np.zeros((num_vertices, num_vertices), dtype=np.float64)
    if pairs:
        u, v = np.array(sorted(pairs), dtype=np.int64).T
        a[u, v] = 1.0
        a[v, u] = 1.0
    return int(round(float(((a @ a) * a).sum()) / 6.0))


def coreness_peel(pairs: set[tuple[int, int]], num_vertices: int) -> np.ndarray:
    """Core number of every vertex by min-degree peeling (Batagelj-
    Zaversnik order, with a lazy heap)."""
    adj: list[set[int]] = [set() for _ in range(num_vertices)]
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    deg = np.array([len(a) for a in adj], dtype=np.int64)
    core = np.zeros(num_vertices, dtype=np.int64)
    removed = np.zeros(num_vertices, dtype=bool)
    heap = [(int(d), v) for v, d in enumerate(deg)]
    heapq.heapify(heap)
    k = 0
    while heap:
        d, v = heapq.heappop(heap)
        if removed[v] or d != deg[v]:
            continue
        k = max(k, d)
        core[v] = k
        removed[v] = True
        for w in adj[v]:
            if not removed[w]:
                deg[w] -= 1
                heapq.heappush(heap, (int(deg[w]), w))
    return core


def ktruss_peel(pairs: set[tuple[int, int]], k: int) -> set[tuple[int, int]]:
    """Edges (u < v) of the k-truss: repeatedly drop edges in fewer than
    k - 2 triangles of the surviving graph."""
    adj: dict[int, set[int]] = defaultdict(set)
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    support = {(u, v): len(adj[u] & adj[v]) for u, v in pairs}
    todo = [e for e, s in support.items() if s < k - 2]
    alive = set(pairs)
    while todo:
        u, v = todo.pop()
        if (u, v) not in alive:
            continue
        alive.discard((u, v))
        adj[u].discard(v)
        adj[v].discard(u)
        for w in adj[u] & adj[v]:
            for e in ((min(u, w), max(u, w)), (min(v, w), max(v, w))):
                support[e] -= 1
                if support[e] < k - 2:
                    todo.append(e)
    return alive


# -- seeded inputs ----------------------------------------------------------


def planted_incidence(
    rng: np.random.Generator,
    num_vertices: int,
    num_edges: int,
    communities: int,
    p_intra: float = 0.85,
    min_size: int = 2,
    max_size: int = 5,
) -> tuple[np.ndarray, np.ndarray]:
    """Planted-partition hypergraph (the generator model of
    ``sources.generators.planted_partition_hypergraph``): community(v) =
    v % communities; with probability ``p_intra`` an edge draws its
    members from one community (the community of a uniform vertex),
    otherwise uniformly. Returns the (edge_id, vertex_id) columns."""
    es, vs = [], []
    for e in range(num_edges):
        k = int(rng.integers(min_size, max_size + 1))
        if rng.random() < p_intra:
            c = int(rng.integers(0, num_vertices)) % communities
            pool = np.arange(c, num_vertices, communities)
        else:
            pool = np.arange(num_vertices)
        members = rng.choice(pool, size=min(k, len(pool)), replace=False)
        es.extend([e] * len(members))
        vs.extend(members.tolist())
    return np.array(es, dtype=np.int64), np.array(vs, dtype=np.int64)


def uniform_incidence(
    rng: np.random.Generator, num_vertices: int, num_edges: int, min_size: int, max_size: int,
    first_edge: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Edges of uniform size in [min_size, max_size] with distinct
    uniform members; edge ids start at ``first_edge``."""
    es, vs = [], []
    for e in range(num_edges):
        k = int(rng.integers(min_size, max_size + 1))
        members = rng.choice(num_vertices, size=k, replace=False)
        es.extend([first_edge + e] * k)
        vs.extend(members.tolist())
    return np.array(es, dtype=np.int64), np.array(vs, dtype=np.int64)


def source_files_table(
    rng: np.random.Generator, repos: int, files: int, commits: int, mono_factor: int,
    touch: float = 0.7,
):
    """A ``source_files`` table (repo, path, commit, lang, content) in the
    schema of ``sources.source_files.synth_source_files``: repo 0 is a
    monorepo with ``mono_factor`` times the files of the others; each
    commit touches every file with probability ``touch`` (every file at
    least once), so the commit hyperedges differ per seed."""
    import pyarrow as pa

    langs = ["py", "cpp", "java", "rs", "go"]
    cols: dict[str, list[str]] = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    for r in range(repos):
        repo = f"org{r // 7}/repo{r}"
        n_files = files * mono_factor if r == 0 else files
        shas = [rng.bytes(20).hex() for _ in range(commits)]
        touched = rng.random((n_files, commits)) < touch
        touched[np.arange(n_files), rng.integers(0, commits, n_files)] = True
        for p in range(n_files):
            lang = langs[p % 5]
            path = f"src/dir{p % 13}/file{p}.{lang}"
            for c in np.flatnonzero(touched[p]):
                cols["repo"].append(repo)
                cols["path"].append(path)
                cols["commit"].append(shas[c])
                cols["lang"].append(lang)
                cols["content"].append(f"// {repo}/{path} rev{c}\n{rng.bytes(16).hex()}")
    return pa.table(cols)


# -- docs_pipeline tables ---------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window key index"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def docs_tables(rng: np.random.Generator, n_docs: int, n_vecs: int, n_events: int) -> dict:
    """Seeded ``documents``, ``embeddings`` and ``events`` tables as
    pyarrow Tables, in the schemas the entry queries read. Rows are
    emitted in a seed-dependent order. Documents include exact and
    near duplicates, so the dedup operators have groups and candidate
    pairs to find; embeddings are clustered by label."""
    import pyarrow as pa

    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.06:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.16:  # near duplicate: a few words replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), size=max(1, len(toks) // 12)):
                toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), size=n)))
    order = rng.permutation(n_docs)
    documents = pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[int(j)] for j in rng.integers(0, len(_LANGS), n_docs)]),
        "source": pa.array([f"src{int(j)}" for j in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.06, size=(10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, size=(n_vecs, 64))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(rng.permutation(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    # one event every ~15 s over a day; microsecond TIMESTAMP without time
    # zone, the type the events entry queries read
    start_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00
    ts = start_us + np.sort(rng.integers(0, 86_400_000_000, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": pa.array([_EVENT_TYPES[int(j)] for j in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, n_events), 2)),
        "props": pa.array([f'{{"k": {int(j)}}}' for j in rng.integers(0, 100, n_events)]),
    })
    events = events.take(pa.array(rng.permutation(n_events)))
    return {"documents": documents, "embeddings": embeddings, "events": events}

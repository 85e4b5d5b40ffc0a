"""Seeded input generators for the workflow benchmark.

Every generator is a pure function of ``seed`` and its size knobs: the
same seed writes byte-identical inputs, and the package under test only
ever sees the files and rows written here (never the seed or a workload
name).  Each generator also returns the *planted truth* its workload's
correctness gate compares against.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sub-stream tags: one independent random stream per generator
_FS, _CORPUS, _STREAM, _REGISTRY = 1, 2, 3, 4

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, tag])


def _md5(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


# ---------------------------------------------------------------------------
# fs_sync: a shapefile tree plus the warehouse state it is synced against
# ---------------------------------------------------------------------------

#: planted shares of the admitted (``.shp``/``.SHP``) files
FS_SHARES = {
    "keep": 0.50,  # same path, same md5 → keep
    "moved": 0.10,  # new path, same md5 → update (md5Match)
    "modified": 0.10,  # same path, new md5 → update (exactMatch)
    "new": 0.15,  # no project → insert (a third spelled ``.SHP``)
    "duplicate": 0.15,  # copy of a keep file under ``zz/`` → alias → insert
}
#: extra rows relative to the admitted file count
FS_ORPHAN_SHARE = 0.05  # projects with no file → archive
FS_TXT_SHARE = 0.10  # ``.txt`` decoys the scan must not admit


@dataclass
class FsInputs:
    root: str
    projects: list[dict]
    categories: list[dict]
    n_files: int
    sync_counts: dict[str, int]
    category_counts: dict[str, int]
    expected_keys: set[str] = field(repr=False)


def _fs_dir(rng: np.random.Generator, top: str) -> str:
    depth = int(rng.integers(1, 5))  # 1-4 directory levels under the root
    parts = [f"{top}{int(rng.integers(0, 12)):02d}"]
    for level in range(1, depth):
        parts.append(f"{'abcd'[level - 1]}{int(rng.integers(0, 4))}")
    return "/".join(parts)


def _fs_content(rng: np.random.Generator, serial: int) -> bytes:
    # the serial makes every file's bytes (and so its md5) unique
    body = rng.integers(0, 256, int(rng.integers(64, 512)), dtype=np.uint8)
    return serial.to_bytes(8, "little") + body.tobytes()


def _categories_of(paths: list[str], root_category: str = "files") -> set[tuple[str, str]]:
    """(type, name) of every directory prefix — ``path_categories``'s keys."""
    out = set()
    for p in paths:
        parts = [x for x in p.split("/")[:-1] if x]
        for i in range(len(parts)):
            parent = "/".join([root_category, *parts[:i]])
            out.add((parent.lower(), "/".join([root_category, *parts[: i + 1]])))
    return out


def make_fs_sync(root: str, seed: int, n_files: int = 10_000) -> FsInputs:
    """Write the tree under ``root`` and return the warehouse state
    (projects, categories) with its planted sync truth."""
    rng = _rng(seed, _FS)
    counts = {k: int(round(v * n_files)) for k, v in FS_SHARES.items()}
    counts["keep"] += n_files - sum(counts.values())
    serial = iter(range(1 << 40))
    projects: list[dict] = []
    keys: set[str] = set()
    admitted: list[str] = []
    used: set[str] = set()

    def fresh_path(top: str, suffix: str) -> str:
        while True:
            p = f"{_fs_dir(rng, top)}/f{int(rng.integers(0, 1 << 30)):09d}{suffix}"
            if p not in used:
                used.add(p)
                return p

    def project(path: str, md5: str) -> int:
        pid = len(projects) + 1
        projects.append(
            {
                "id": pid,
                "metadata": {"iam": "gatherbot", "file": {"file": path, "md5": md5}},
                "archived": False,
            }
        )
        return pid

    def put(path: str, data: bytes) -> str:
        _write(os.path.join(root, path), data)
        admitted.append(path)
        return _md5(data)

    keep_data: list[bytes] = []
    for _ in range(counts["keep"]):
        data = _fs_content(rng, next(serial))
        p = fresh_path("d", ".shp")
        project(p, put(p, data))
        keep_data.append(data)
    for _ in range(counts["moved"]):
        data = _fs_content(rng, next(serial))
        md5 = put(fresh_path("d", ".shp"), data)
        pid = project(fresh_path("d", ".shp"), md5)  # the old, vanished path
        keys.add(f"update-{pid}-{md5}")
    for _ in range(counts["modified"]):
        p = fresh_path("d", ".shp")
        old = _md5(_fs_content(rng, next(serial)))
        md5 = put(p, _fs_content(rng, next(serial)))
        pid = project(p, old)
        keys.add(f"update-{pid}-{md5}")
    for i in range(counts["new"]):
        p = fresh_path("d", ".SHP" if i % 3 == 0 else ".shp")
        keys.add(f"insert-{put(p, _fs_content(rng, next(serial)))}-{p}")
    for _ in range(counts["duplicate"]):
        # ``zz`` sorts after every ``dNN`` tree, so the original stays
        # the canonical (min path) copy and this one becomes its alias
        p = fresh_path("zz", ".shp")
        data = keep_data[int(rng.integers(0, len(keep_data)))]
        keys.add(f"insert-{put(p, data)}-{p}")
    n_orphans = int(round(FS_ORPHAN_SHARE * n_files))
    for _ in range(n_orphans):
        pid = project(fresh_path("d", ".shp"), _md5(_fs_content(rng, next(serial))))
        keys.add(f"archive-{pid}")
    for _ in range(int(round(FS_TXT_SHARE * n_files))):
        _write(os.path.join(root, fresh_path("d", ".txt")), _fs_content(rng, next(serial)))

    # server categories: 70% of the tree's categories exist (keep), plus
    # deprecated bot-owned ones (delete) and foreign ones (ignored)
    tree = sorted(_categories_of(admitted))
    kept = [tree[i] for i in sorted(rng.choice(len(tree), int(0.7 * len(tree)), replace=False))]
    n_dep = max(1, len(tree) // 10)
    deprecated = [("files", f"files/gone{i:03d}") for i in range(n_dep)]
    foreign = [("files", f"files/other{i:03d}") for i in range(n_dep)]
    categories = []
    for i, (typ, name) in enumerate(kept + deprecated + foreign):
        iam = "someone" if i >= len(kept) + len(deprecated) else "gatherbot"
        categories.append(
            {
                "id": i + 1,
                "type": typ,
                "name": name,
                "shortName": name.rsplit("/", 1)[-1],
                "path": typ + "/",
                "metadata": {"iam": iam, "selectable": True, "editable": False},
            }
        )
    order = rng.permutation(len(projects))
    return FsInputs(
        root=root,
        projects=[projects[i] for i in order],
        categories=categories,
        n_files=len(admitted),
        sync_counts={
            "keep": counts["keep"],
            "update": counts["moved"] + counts["modified"],
            "insert": counts["new"] + counts["duplicate"],
            "archive": n_orphans,
        },
        category_counts={
            "insert": len(tree) - len(kept),
            "keep": len(kept),
            "delete": n_dep,
        },
        expected_keys=keys,
    )


# ---------------------------------------------------------------------------
# corpus_registry: a document corpus with planted duplicates and rejects
# ---------------------------------------------------------------------------

#: planted shares of the corpus's documents
CORPUS_SHARES = {
    "clean": 0.55,  # unique, passes every gate → survives
    "exact_dup": 0.10,  # byte copy of a clean doc → only the min id survives
    "near_dup": 0.15,  # one-word edit of a cluster base → min id survives
    "short": 0.05,  # under 50 characters → quality reject
    "numeric": 0.05,  # under 40% letters → quality reject
    "foreign": 0.10,  # language outside en/de/fr/es → language reject
}
CORPUS_LANGS = ("en", "de", "fr", "es")
CORPUS_REJECT_LANGS = ("zh", "it")
CORPUS_SOURCES = ("src0", "src1", "src2", "src3")
#: the classifier lexicon (functions.classify.DEMO_WEIGHTS_MILLI) sits at
#: fixed Zipf ranks: its positive words at ranks 31-38, its negative ones
#: at 51/71/91, so pretrain_mix's classifier gate keeps about two thirds
#: of the documents that pass its quality rules
_CLASSIFIER_RANKS = {
    "table": 30, "sort": 31, "merge": 32, "window": 33, "hash": 34,
    "scan": 35, "key": 36, "value": 37, "the": 50, "a": 70, "slow": 90,
}


@dataclass
class CorpusInputs:
    path: str
    n_docs: int
    survivors: set[int] = field(repr=False)
    shares: dict[str, int] = field(default_factory=dict)


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """Random letter words, most frequent first, with the classifier
    lexicon at its fixed ranks."""
    words: set[str] = set(_CLASSIFIER_RANKS)
    out: list[str] = []
    while len(out) < size - len(_CLASSIFIER_RANKS):
        w = "".join(rng.choice(_LETTERS, int(rng.integers(3, 9))))
        if w not in words:
            words.add(w)
            out.append(w)
    for w, rank in sorted(_CLASSIFIER_RANKS.items(), key=lambda kv: kv[1]):
        out.insert(rank, w)
    return out


def make_corpus(path: str, seed: int, n_docs: int = 20_000) -> CorpusInputs:
    """Write ``documents`` (doc_id, text, lang, source, n_chars) as one
    parquet file at ``path``; return the curate survivor set."""
    rng = _rng(seed, _CORPUS)
    vocab = np.array(_vocabulary(rng, 5000))
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    zipf = ranks**-1.1
    zipf /= zipf.sum()
    counts = {k: int(round(v * n_docs)) for k, v in CORPUS_SHARES.items()}
    counts["clean"] += n_docs - sum(counts.values())

    def words(n: int) -> list[str]:
        return list(vocab[rng.choice(len(vocab), n, p=zipf)])

    def lang() -> str:
        return CORPUS_LANGS[int(rng.integers(0, len(CORPUS_LANGS)))]

    # records: (text, lang, group) — group ties copies/variants together
    recs: list[tuple[str, str, int]] = []
    clean_texts: list[tuple[str, str]] = []
    n_groups = 0
    for _ in range(counts["clean"]):
        t, lg = " ".join(words(int(rng.integers(100, 160)))), lang()
        recs.append((t, lg, n_groups))
        clean_texts.append((t, lg))
        n_groups += 1
    # exact copies of the first clean docs, one group per original
    for i in range(counts["exact_dup"]):
        t, lg = clean_texts[i % len(clean_texts)]
        recs.append((t, lg, i % len(clean_texts)))
    # near-duplicate clusters: a base plus 1-3 one-word edits of it
    left = counts["near_dup"]
    while left > 0:
        base = words(int(rng.integers(100, 160)))
        lg = lang()
        size = min(left, int(rng.integers(2, 5)))
        for k in range(size):
            w = list(base)
            if k:
                w[int(rng.integers(0, len(w)))] = f"edit{int(rng.integers(0, 10**6))}"
            recs.append((" ".join(w), lg, n_groups))
        n_groups += 1
        left -= size
    for _ in range(counts["short"]):
        recs.append((" ".join(words(int(rng.integers(1, 4))))[:40], lang(), -1))
    for _ in range(counts["numeric"]):
        digits = rng.integers(0, 10, (int(rng.integers(40, 80)), 5))
        t = " ".join("".join(map(str, d)) for d in digits) + " " + " ".join(words(3))
        recs.append((t, lang(), -1))
    for _ in range(counts["foreign"]):
        lg = CORPUS_REJECT_LANGS[int(rng.integers(0, 2))]
        recs.append((" ".join(words(int(rng.integers(100, 160)))), lg, -1))

    ids = rng.permutation(len(recs))
    best: dict[int, int] = {}
    for (_, _, g), doc_id in zip(recs, ids):
        if g >= 0:
            best[g] = min(best.get(g, 1 << 62), int(doc_id))
    order = np.argsort(ids)
    texts = [recs[i][0] for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(np.sort(ids), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([recs[i][1] for i in order], pa.string()),
            "source": pa.array(
                [CORPUS_SOURCES[int(x)] for x in rng.integers(0, 4, len(recs))],
                pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return CorpusInputs(path, len(recs), set(best.values()), counts)


# ---------------------------------------------------------------------------
# fs_sync's stream: an open-loop schedule of small files
# ---------------------------------------------------------------------------


@dataclass
class StreamSchedule:
    """``files[i]`` = (due offset s, relative path, bytes)."""

    rate_per_s: float
    files: list[tuple[float, str, bytes]] = field(repr=False)


def make_stream_schedule(seed: int, rate_per_s: float, duration_s: float) -> StreamSchedule:
    rng = _rng(seed, _STREAM)
    n = max(1, int(rate_per_s * duration_s))
    files = []
    for i in range(n):
        rel = f"{_fs_dir(rng, 'w')}/s{i:06d}.shp"
        files.append((i / rate_per_s, rel, _fs_content(rng, i)))
    return StreamSchedule(rate_per_s, files)


# ---------------------------------------------------------------------------
# corpus_registry: the registry's tables at a small scale factor
# ---------------------------------------------------------------------------

#: the registry corpus's 30-word vocabulary (uniform), plus the rare
#: "dup" marker some registry queries search for
_REGISTRY_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def make_registry_tables(
    sf_dir: str, seed: int, n_docs: int = 500, n_vecs: int = 500
) -> dict[str, str]:
    """Write documents/embeddings parquet files with the schemas the
    registry queries read (sf0.01-sized by default); return their paths
    by table name."""
    rng = _rng(seed, _REGISTRY)
    os.makedirs(sf_dir, exist_ok=True)
    texts = []
    for _ in range(n_docs):
        w = list(rng.choice(_REGISTRY_WORDS, int(rng.integers(8, 90))))
        if rng.random() < 0.01:
            w[int(rng.integers(0, len(w)))] = "dup"
        texts.append(" ".join(w))
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(list(rng.choice(langs, n_docs)), pa.string()),
                "source": pa.array(
                    [f"src{i % 20}" for i in range(n_docs)], pa.string()
                ),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(
                    list(vecs.astype(np.float32)), pa.list_(pa.float32())
                ),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    return {t: os.path.join(sf_dir, f"{t}.parquet") for t in ("documents", "embeddings")}

"""Seeded changelog generator owned by the benchmark.

Writes ``CHANGELOG_SCHEMA``-shaped parquet chunks (one directory per chunk,
one file each) with numpy + pyarrow in a single process — no Spark, and no
import of the engine's own generator, so an engine change cannot move the
benchmark's inputs.

Properties the engine's behaviour depends on, all drawn from the seed:

* key skew: entities are drawn with a quadratic bias toward low ids (hot
  keys), and every even entity lives in one mega-repo that holds half of
  all paths;
* ~1% duplicate deliveries: exact copies of an earlier row (same event id),
  within a chunk and across the chunk boundary;
* out-of-order timestamps within a chunk (up to 10 minutes of jitter) and
  cross-chunk late events: ~2% of a chunk re-touch keys of the previous
  chunk with an older timestamp, so the engine's LWW gate must drop them;
* ~10% deletes.

Chunks are cached under the work directory by (seed, parameters); the
cache key covers every parameter, so two workloads never share a cache
entry by accident.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("event_ts", pa.timestamp("us", tz="UTC")),
        ("op", pa.string()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        ("shard", pa.int32()),
    ]
)

MEGA_REPO = "org/mega"
LANGS = np.array(["python", "java", "scala", "go", "js", "md", "yaml", "sql"])
WORDS = np.array(
    "ingest merge stream batch shuffle bucket manifest commit epoch delta "
    "compact snapshot lookup scan search graph node relation schema owner "
    "watermark table column usage badge tag lineage source sink reader".split()
)
BASE_TS_US = 1_735_689_600 * 1_000_000  # 2025-01-01T00:00:00Z
DUP_RATE = 0.01
LATE_RATE = 0.02
DELETE_RATE = 0.10
JITTER_S = 600
N_SMALL_REPOS = 40


@dataclass(frozen=True)
class Params:
    n_chunks: int
    chunk_events: int
    n_entities: int

    def key(self, seed: int) -> str:
        blob = json.dumps({"seed": seed, **asdict(self)}, sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def repo_of(entity: np.ndarray) -> np.ndarray:
    small = np.char.add("org/repo-", np.char.mod("%03d", (entity // 2) % N_SMALL_REPOS))
    return np.where(entity % 2 == 0, MEGA_REPO, small)


def path_of(entity: np.ndarray) -> np.ndarray:
    return np.char.add(
        np.char.add(np.char.add("src/pkg_", np.char.mod("%02d", entity % 53)), "/file_"),
        np.char.add(np.char.mod("%d", entity), ".py"),
    )


def _content(rng: np.random.Generator, entity: np.ndarray, path: np.ndarray) -> np.ndarray:
    """Header line (description), a version marker the extractor parses,
    and 1-4 function definitions whose trailing comments become column
    descriptions."""
    n = len(entity)
    version = rng.integers(0, 9, n)
    n_funcs = rng.integers(1, 5, n)
    w = WORDS[rng.integers(0, len(WORDS), (n, 2))]
    # plain string formatting: numpy's vectorised string ops are ~20x slower
    return np.array([
        f"# {p} v{v}\nimport {w0}\n" + "".join(
            f"def fn_{(e * 7919 + i * 104729) % (1 << 24):06x}_{v}(x):\n    return x  # {w1}\n"
            for i in range(k))
        for e, p, v, k, (w0, w1) in zip(entity.tolist(), path.tolist(), version.tolist(),
                                        n_funcs.tolist(), w.tolist())
    ], dtype=object)


def _chunk(rng: np.random.Generator, p: Params, c: int, prev: dict | None) -> dict:
    n = p.chunk_events
    gid = np.arange(c * n, (c + 1) * n, dtype=np.int64)
    u = rng.random(n)
    entity = np.minimum((u * u * p.n_entities).astype(np.int64), p.n_entities - 1)
    ts = BASE_TS_US + gid * 2_000_000 - rng.integers(0, JITTER_S * 1_000_000, n)
    op = np.where(rng.random(n) < DELETE_RATE, "delete", "update")
    if prev is not None:
        # late events: re-touch keys of the previous chunk, strictly older
        # than the event they follow, so every one of them must lose
        late = np.flatnonzero(rng.random(n) < LATE_RATE)
        src = rng.integers(0, len(prev["entity"]), len(late))
        entity[late] = prev["entity"][src]
        ts[late] = prev["ts"][src] - rng.integers(1, 3600 * 1_000_000, len(late))
    path = path_of(entity)
    content = _content(rng, entity, path)
    sha = np.frombuffer(rng.bytes(20 * n), dtype=np.uint8).reshape(n, 20)
    # strings as object arrays: fixed-width numpy strings would truncate
    # when rows of the previous chunk are copied in below
    cols = {
        "event_id": gid,
        "event_ts": ts,
        "op": op.astype(object),
        "repo": repo_of(entity).astype(object),
        "path": path.astype(object),
        "commit": np.array([row.tobytes().hex() for row in sha], dtype=object),
        "lang": LANGS[entity % len(LANGS)].astype(object),
        "content": np.where(op == "delete", None, content).astype(object),
        "shard": np.full(n, c, dtype=np.int32),
        "entity": entity,
        "ts": ts,
    }
    # duplicate deliveries: exact copies of earlier rows of this chunk and,
    # from the second chunk on, of rows the previous chunk already applied
    n_dup = max(2, int(n * DUP_RATE))
    idx = rng.integers(0, n, n_dup)
    dup = {k: v[idx] for k, v in cols.items()}
    if prev is not None:
        pidx = rng.integers(0, len(prev["event_id"]), n_dup // 2)
        for k in dup:
            dup[k][: n_dup // 2] = prev[k][pidx]
    out = {k: np.concatenate([cols[k], dup[k]]) for k in cols}
    order = rng.permutation(len(out["event_id"]))
    return {k: v[order] for k, v in out.items()}


def generate(cache_root: str, seed: int, p: Params) -> list[str]:
    """Chunk directories for (seed, p), generated on first use. Returns
    paths in chunk order."""
    root = os.path.join(cache_root, p.key(seed))
    dirs = [os.path.join(root, f"chunk_{c:05d}") for c in range(p.n_chunks)]
    if os.path.exists(os.path.join(root, "_DONE")):
        return dirs
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, int(p.key(seed), 16)]))
    prev = None
    for c in range(p.n_chunks):
        ch = _chunk(rng, p, c, prev)
        d = os.path.join(tmp, f"chunk_{c:05d}")
        os.makedirs(d)
        table = pa.table(
            {f.name: pa.array(ch[f.name], type=f.type) for f in SCHEMA}, schema=SCHEMA)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        prev = ch
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        json.dump({"seed": seed, **asdict(p)}, fh)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return dirs

"""Independent correctness oracle over the generated changelog (DuckDB).

The engine's expected state is recomputed from the raw chunks with plain
SQL — last-writer-wins on ``(event_ts, commit)`` per ``(repo, path)``, a
winning delete removes the key — and compared with what the engine's public
read APIs return. Nothing here imports the engine.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

DATABASE = "repofs"
CLUSTER = "gold"


def table_key(repo: str, path: str) -> str:
    return f"{DATABASE}://{CLUSTER}.{repo}/{path}"


class Oracle:
    """Expected states after each epoch of a chunk sequence (epoch k has
    applied chunks 0..k)."""

    def __init__(self, chunk_dirs: list[str]):
        self.chunks = chunk_dirs
        self.db = duckdb.connect()
        self._live: dict[int, dict[tuple[str, str], tuple]] = {}

    def _files(self, k: int) -> str:
        return "[" + ",".join(f"'{d}/*.parquet'" for d in self.chunks[: k + 1]) + "]"

    def live(self, k: int) -> dict[tuple[str, str], tuple]:
        """(repo, path) -> (commit, sha256(content), first content line,
        event_ts seconds) for every live key after epoch ``k``; empty for
        k < 0 (nothing applied)."""
        if k < 0:
            return {}
        if k not in self._live:
            rows = self.db.execute(f"""
                SELECT repo, path, commit, sha256(content),
                       split_part(content, chr(10), 1),
                       epoch_us(event_ts) // 1000000
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY repo, path
                          ORDER BY event_ts DESC, commit DESC) AS rn
                      FROM read_parquet({self._files(k)}))
                WHERE rn = 1 AND op <> 'delete'
            """).fetchall()
            self._live[k] = {(r[0], r[1]): tuple(r[2:]) for r in rows}
        return self._live[k]

    # -- end-state checks ---------------------------------------------------

    def check_repo_files(self, engine: pa.Table, k: int) -> list[str]:
        """``engine``: live repo_files rows (repo, path, commit,
        content_sha256). Compares the multiset with the LWW reduction."""
        self.live(k)
        self.db.register("exp", self._expected_table(k))
        self.db.register("got", engine.select(["repo", "path", "commit", "content_sha256"]))
        out = []
        try:
            for a, b, label in (("got", "exp", "unexpected"), ("exp", "got", "missing")):
                n, sample = self.db.execute(f"""
                    SELECT count(*), any_value(repo || '/' || path) FROM (
                        SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})
                """).fetchone()
                if n:
                    out.append(f"repo_files: {n} {label} row(s), e.g. {sample}")
        finally:
            self.db.unregister("exp")
            self.db.unregister("got")
        return out

    def check_doc_keys(self, keys: list[str], k: int) -> list[str]:
        exp = {table_key(r, p) for r, p in self.live(k)}
        got = list(keys)
        out = []
        if len(set(got)) != len(got):
            out.append("search_documents: duplicate keys")
        extra, missing = set(got) - exp, exp - set(got)
        if extra:
            out.append(f"search_documents: {len(extra)} unexpected key(s), e.g. {min(extra)}")
        if missing:
            out.append(f"search_documents: {len(missing)} missing key(s), e.g. {min(missing)}")
        return out

    def _expected_table(self, k: int) -> pa.Table:
        live = self._live[k]
        return pa.table({
            "repo": [r for r, _ in live],
            "path": [p for _, p in live],
            "commit": [v[0] for v in live.values()],
            "content_sha256": [v[1] for v in live.values()],
        })

    # -- per-read checks (any state in [lo, hi] is a valid answer) -----------

    def doc_ok(self, repo: str, path: str, row: dict | None, lo: int, hi: int) -> bool:
        for k in range(lo, hi + 1):
            v = self.live(k).get((repo, path))
            if v is None and row is None:
                return True
            if v is not None and row is not None and (
                row["key"] == table_key(repo, path) and row["schema"] == repo
                and row["name"] == path and row["description"] == v[2]
                and row["last_updated_timestamp"] == v[3]
            ):
                return True
        return False

    def node_ok(self, repo: str, path: str, row: dict | None, lo: int, hi: int) -> bool:
        for k in range(lo, hi + 1):
            v = self.live(k).get((repo, path))
            if v is None and row is None:
                return True
            if v is not None and row is not None and (
                row["attributes"].get("commit") == v[0]
                and row["attributes"].get("content_sha256") == v[1]
                and row["attributes"].get("name") == path
            ):
                return True
        return False

    def scan_ok(self, repo: str, rows: set[tuple[str, str]], lo: int, hi: int) -> bool:
        """``rows``: (path, commit) of the live rows a repo scan returned."""
        for k in range(lo, hi + 1):
            exp = {(p, v[0]) for (r, p), v in self.live(k).items() if r == repo}
            if exp == rows:
                return True
        return False

    def changes_ok(self, rows: list[tuple[str, str]], k: int) -> bool:
        """Change feed of the search-doc commit of epoch ``k``: inserted and
        updated keys are live after k, deleted keys are not, no key twice,
        and every key belongs to an entity chunk k touched."""
        live = {table_key(r, p) for r, p in self.live(k)}
        touched = {table_key(r, p) for r, p in self.db.execute(f"""
            SELECT DISTINCT repo, path FROM read_parquet('{self.chunks[k]}/*.parquet')
        """).fetchall()}
        keys = [key for key, _ in rows]
        if len(set(keys)) != len(keys):
            return False
        for key, ct in rows:
            if key not in touched:
                return False
            if (ct == "delete") == (key in live):
                return False
        return True

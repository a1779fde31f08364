"""Independent last-writer-wins oracle in DuckDB over the generated parquet.

Shares no code with the engine. It follows the semantics of the tests'
pandas replay (``tests/oracle.replay``):

* canonical null-ish values: '', 'None', 'null', 'NULL' and 'N/A' are NULL;
* per epoch, one winner per (repo, path): the greatest (commit, event_seq);
* events of ignore-listed repos never reach the table;
* MERGE branches: a DELETE winner removes the key; any other winner
  inserts or replaces it, unless its canonical (lang, content) equals the
  current row's, in which case the current row (and its commit) stays.

Self-test against the pandas replay, at small scale:

    python3 perfbench/oracle.py --selftest
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

import duckdb

NULLISH = ("", "None", "null", "NULL", "N/A")
COLS = ("repo", "path", "commit", "lang", "content")


def _canon_sql(col: str) -> str:
    spelled = ", ".join(f"'{v}'" for v in NULLISH)
    return f"CASE WHEN {col} IN ({spelled}) THEN NULL ELSE {col} END"


def _canon(v):
    if v is None or (isinstance(v, float) and v != v) or v in NULLISH:
        return None
    return v


def row_checksum(rows) -> tuple[int, str]:
    """(row count, order-independent sha256) over (repo, path, commit,
    lang, content) rows, with lang and content canonicalized."""
    digests = []
    for repo, path, commit, lang, content in rows:
        fields = (repo, path, commit, _canon(lang), _canon(content))
        tagged = "\x1f".join("n:" if v is None else "v:" + str(v) for v in fields)
        digests.append(hashlib.sha256(tagged.encode("utf-8")).hexdigest())
    digests.sort()
    return len(digests), hashlib.sha256("".join(digests).encode()).hexdigest()


def arrow_rows(table) -> list[tuple]:
    """The (repo, path, commit, lang, content) rows of a pyarrow table."""
    return list(zip(*[table.column(c).to_pylist() for c in COLS]))


class LWWOracle:
    """Replays the generated event log epoch by epoch in an in-memory
    DuckDB database; ``state`` always holds the table after the epochs
    applied so far."""

    def __init__(self, input_dir: str, ignored_repos: tuple[str, ...]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        base = os.path.join(input_dir, "base", "*.parquet")
        events = os.path.join(input_dir, "events", "*", "*.parquet")
        self.con.execute(
            f"""CREATE TABLE raw AS
            SELECT repo, path, commit, lang, content, op, event_seq,
                   CAST(epoch AS BIGINT) AS epoch
            FROM read_parquet('{events}', hive_partitioning = true)"""
        )
        quoted = ", ".join("'" + r.replace("'", "''") + "'" for r in ignored_repos)
        skip = f"WHERE repo NOT IN ({quoted})" if ignored_repos else ""
        self.con.execute(f"CREATE TABLE ev AS SELECT * FROM raw {skip}")
        self.con.execute(
            f"""CREATE TABLE base AS
            SELECT repo, path, commit, {_canon_sql('lang')} AS lang,
                   {_canon_sql('content')} AS content
            FROM read_parquet('{base}')"""
        )
        self.con.execute("CREATE TABLE state AS SELECT * FROM base")

    def epoch_stats(self) -> dict[int, dict]:
        """Per epoch of the raw log: event count and payload bytes (UTF-8
        bytes of every string column plus the 8-byte event_seq)."""
        width = " + ".join(f"coalesce(strlen({c}), 0)" for c in (*COLS, "op")) + " + 8"
        return {
            k: {"events": n, "payload_bytes": int(b)}
            for k, n, b in self.con.execute(
                f"SELECT epoch, count(*), sum({width}) FROM raw GROUP BY epoch"
            ).fetchall()
        }

    def apply_epoch(self, epoch: int) -> dict[str, int]:
        """Apply one epoch; returns its change feed's op counts."""
        c = self.con
        c.execute("CREATE OR REPLACE TABLE prev AS SELECT * FROM state")
        c.execute(
            f"""CREATE OR REPLACE TABLE w AS
            SELECT repo, path, commit, {_canon_sql('lang')} AS lang,
                   {_canon_sql('content')} AS content, op
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY repo, path ORDER BY commit DESC, event_seq DESC) AS rn
                  FROM ev WHERE epoch = {int(epoch)})
            WHERE rn = 1"""
        )
        c.execute(
            """DELETE FROM state s USING w
            WHERE s.repo = w.repo AND s.path = w.path
              AND (w.op = 'DELETE' OR s.lang IS DISTINCT FROM w.lang
                   OR s.content IS DISTINCT FROM w.content)"""
        )
        c.execute(
            """INSERT INTO state
            SELECT w.repo, w.path, w.commit, w.lang, w.content FROM w
            WHERE w.op <> 'DELETE' AND NOT EXISTS (
                SELECT 1 FROM state s WHERE s.repo = w.repo AND s.path = w.path)"""
        )
        return self.diff_counts("state", "prev")

    def diff_counts(self, src: str, dest: str) -> dict[str, int]:
        """ADD/UPDATE/DELETE counts of diff(src, dest) over canonical
        (lang, content); ``commit`` is not compared."""
        add, upd, dele = self.con.execute(
            f"""SELECT
              count(*) FILTER (WHERE d.repo IS NULL),
              count(*) FILTER (WHERE s.repo IS NOT NULL AND d.repo IS NOT NULL),
              count(*) FILTER (WHERE s.repo IS NULL)
            FROM {src} s FULL OUTER JOIN {dest} d
              ON s.repo = d.repo AND s.path = d.path
            WHERE s.repo IS NULL OR d.repo IS NULL
               OR s.lang IS DISTINCT FROM d.lang
               OR s.content IS DISTINCT FROM d.content"""
        ).fetchone()
        return {"ADD": add, "UPDATE": upd, "DELETE": dele}

    def state_checksum(self, keys: list[tuple[str, str]] | None = None) -> tuple[int, str]:
        """Checksum of the current state, or of its rows for ``keys``."""
        if keys is None:
            rows = self.con.execute(f"SELECT {', '.join(COLS)} FROM state").fetchall()
        else:
            self.con.execute("CREATE OR REPLACE TABLE k (repo VARCHAR, path VARCHAR)")
            self.con.executemany("INSERT INTO k VALUES (?, ?)", keys)
            rows = self.con.execute(
                f"""SELECT {', '.join('s.' + c for c in COLS)}
                FROM state s JOIN (SELECT DISTINCT * FROM k) k
                  ON s.repo = k.repo AND s.path = k.path"""
            ).fetchall()
        return row_checksum(rows)

    def sample_keys(self, seed: int, draw: int, n: int) -> list[tuple[str, str]]:
        """``n`` keys drawn deterministically from the base and event keys."""
        return self.con.execute(
            f"""SELECT repo, path FROM (
                SELECT repo, path FROM base UNION SELECT repo, path FROM ev)
            ORDER BY md5(repo || '/' || path || ':{int(seed)}:{int(draw)}')
            LIMIT {int(n)}"""
        ).fetchall()


def _selftest() -> int:
    """Check the DuckDB oracle against the pandas replay of ``tests/oracle``
    on a small generated log: final state after every epoch prefix, and
    every epoch's feed counts."""
    import importlib.util
    import shutil

    root = os.getcwd()
    sys.path.insert(0, root)
    from bcdc2bcdc_spark.generator import IGNORED_REPOS

    spec = importlib.util.spec_from_file_location(
        "tests_oracle", os.path.join(root, "tests", "oracle.py")
    )
    replay_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(replay_mod)

    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
             "--out", work, "--seed", "7", "--keys", "300", "--epochs", "4",
             "--epoch-events", "600"],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        oracle = LWWOracle(work, IGNORED_REPOS)
        base_df = oracle.con.execute("SELECT * FROM read_parquet(?)",
                                     [os.path.join(work, "base", "*.parquet")]).df()
        events_df = oracle.con.execute(
            "SELECT * FROM read_parquet(?, hive_partitioning = true)",
            [os.path.join(work, "events", "*", "*.parquet")],
        ).df()
        events_df["epoch"] = events_df["epoch"].astype("int64")
        events_df = events_df.astype(object).where(events_df.notna(), None)
        prev = replay_mod.replay(base_df, events_df.iloc[0:0], IGNORED_REPOS)
        failures = 0
        for k in sorted(events_df["epoch"].unique()):
            feed = oracle.apply_epoch(int(k))
            want = replay_mod.replay(
                base_df, events_df[events_df["epoch"] <= k], IGNORED_REPOS
            )
            got_sum = oracle.state_checksum()
            want_sum = row_checksum(want[list(COLS)].itertuples(index=False, name=None))
            p = {(r.repo, r.path): (r.lang, r.content) for r in prev.itertuples()}
            n = {(r.repo, r.path): (r.lang, r.content) for r in want.itertuples()}
            want_feed = {
                "ADD": len(n.keys() - p.keys()),
                "UPDATE": sum(1 for key in n.keys() & p.keys() if n[key] != p[key]),
                "DELETE": len(p.keys() - n.keys()),
            }
            ok = got_sum == want_sum and feed == want_feed
            failures += not ok
            print(f"epoch {k}: rows {got_sum[0]} vs {want_sum[0]}, feed {feed} vs {want_feed}: "
                  f"{'ok' if ok else 'MISMATCH'}")
            prev = want
        print("selftest", "passed" if failures == 0 else "FAILED")
        return 1 if failures else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:] != ["--selftest"]:
        sys.exit("usage: python3 perfbench/oracle.py --selftest")
    sys.exit(_selftest())

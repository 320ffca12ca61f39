"""Independent correctness reference: last-writer-wins in DuckDB.

For every url the winning event is the one with the highest
``(warc_ts, seq)``, a NULL ``warc_ts`` ranking lowest; a winning delete
leaves the url absent. Page text comes from the single-string
``extract_text_str``, not from the engine's vectorized kernel, and no
Spark code is involved.
"""

from __future__ import annotations

import hashlib

import duckdb

from clinvar_ingest_spark.functions.extract import extract_text_str

_WINNERS = """
SELECT url, seq, op, warc_ts, hh, lang, extra FROM ev
WHERE seq <= ?
QUALIFY row_number() OVER (
    PARTITION BY url ORDER BY warc_ts DESC NULLS LAST, seq DESC) = 1
"""


def text_digest(text: str | None) -> str | None:
    return None if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


class Reference:
    """LWW state of a set of changelog parquet files at any seq cut."""

    def __init__(self, files: list[str]):
        self.files = list(files)
        self.con = duckdb.connect()
        self.con.execute("SET threads=2")
        self.con.execute(
            "CREATE TABLE ev AS SELECT seq, op, url, warc_ts, hash(html) AS hh, "
            "lang, extra FROM read_parquet(?)",
            [self.files],
        )
        self._digests: dict[tuple[str, int], str] = {}
        self._states: dict[int, dict] = {}

    def close(self) -> None:
        self.con.close()

    def state(self, hi: int) -> dict[str, tuple]:
        """Live urls after every event with ``seq <= hi``:
        url → (seq, warc_ts, html hash, lang, extra) of the winner."""
        if hi not in self._states:
            rows = self.con.execute(_WINNERS, [hi]).fetchall()
            self._states[hi] = {
                r[0]: (r[1],) + tuple(r[3:]) for r in rows if r[2] != "delete"
            }
        return self._states[hi]

    def urls(self, hi: int) -> list[str]:
        """Every url that any event up to ``hi`` names, deleted or not."""
        rows = self.con.execute(
            "SELECT DISTINCT url FROM ev WHERE seq <= ? ORDER BY url", [hi]
        ).fetchall()
        return [r[0] for r in rows]

    def urls_changed(self, lo: int, hi: int) -> set[str]:
        """Urls named by some event with ``lo < seq <= hi``."""
        rows = self.con.execute(
            "SELECT DISTINCT url FROM ev WHERE seq > ? AND seq <= ?", [lo, hi]
        ).fetchall()
        return {r[0] for r in rows}

    def host_event_counts(self, hi: int) -> list[tuple[str, int]]:
        """(host, events) for events up to ``hi``, busiest host first."""
        return self.con.execute(
            "SELECT split_part(url, '/', 3) AS host, count(*) AS n FROM ev "
            "WHERE seq <= ? GROUP BY host ORDER BY n DESC, host",
            [hi],
        ).fetchall()

    def text_digests(self, hi: int, urls=None) -> dict[str, str]:
        """url → md5 of the winner's extracted text (live urls only)."""
        st = self.state(hi)
        want = st.keys() if urls is None else [u for u in urls if u in st]
        need = sorted({(u, st[u][0]) for u in want} - self._digests.keys())
        if need:
            self.con.execute("CREATE OR REPLACE TEMP TABLE need (url VARCHAR, seq BIGINT)")
            self.con.executemany("INSERT INTO need VALUES (?, ?)", need)
            rows = self.con.execute(
                "SELECT DISTINCT e.url, e.seq, e.html FROM read_parquet(?) e "
                "JOIN need USING (url, seq)",
                [self.files],
            ).fetchall()
            for url, seq, html in rows:
                text = extract_text_str(bytes(html).decode("utf-8", errors="replace"))
                self._digests[(url, seq)] = text_digest(text)
        return {u: self._digests[(u, st[u][0])] for u in want}

    def diff_counts(self, old_hi: int, new_hi: int) -> dict[str, int]:
        """created/updated/deleted live urls between two seq cuts; an
        update is a url whose winner's payload (warc_ts, html, lang,
        extra) changed."""
        old, new = self.state(old_hi), self.state(new_hi)
        return {
            "created": sum(1 for u in new if u not in old),
            "updated": sum(1 for u in new if u in old and new[u][1:] != old[u][1:]),
            "deleted": sum(1 for u in old if u not in new),
        }

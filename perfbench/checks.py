"""Output checks: crawl digests against the sequential oracle.

Engine and oracle results reduce to the same two digests — the fetch log
in ``seq`` order and the seen set as sorted triples — so the expected
digests are computed once per seed, cached as JSON, and compared after
every timed pass.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

FETCH_COLS = ["seq", "round", "url_canon", "surt", "url_hash", "host", "depth", "src_doc_id"]


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _line(values) -> str:
    return "\t".join("" if v is None else str(v) for v in values)


def fetch_log_digest(rows) -> dict:
    """Crawl-order digest: every fetch-log row, in ``seq`` order."""
    rows = sorted(rows, key=lambda r: r["seq"])
    return {"rows": len(rows), "sha256": _digest(_line(r[c] for c in FETCH_COLS) for r in rows)}


def seen_digest(triples) -> dict:
    """Seen-set digest over sorted (url_hash, surt, url_canon) triples."""
    lines = sorted(_line(t) for t in triples)
    return {"rows": len(lines), "sha256": _digest(lines)}


def oracle_digests(res) -> dict:
    """Digests of a ``frontier.oracle.OracleResult``."""
    return {
        "fetch_log": fetch_log_digest(res.fetch_log),
        "seen": seen_digest((h, surt, canon) for surt, (h, canon) in res.seen.items()),
    }


def engine_digests(fetch_log: DataFrame, seen: DataFrame) -> dict:
    """Digests of a ``CrawlResult``'s fetch log and seen set."""
    fl = fetch_log.select(*FETCH_COLS).toPandas().astype(object)
    records = fl.where(fl.notna(), None).to_dict("records")
    sn = seen.select("url_hash", "surt", "url_canon").toPandas().astype(object)
    return {
        "fetch_log": fetch_log_digest(records),
        "seen": seen_digest(sn.itertuples(index=False, name=None)),
    }


def mismatches(got: dict, expected: dict) -> list[str]:
    """Names of the digests that differ."""
    return [k for k in ("fetch_log", "seen") if got[k] != expected[k]]

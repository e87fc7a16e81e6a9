"""Seeded crawl inputs, written once per seed and cached.

The link graph has the shape of the ``mid`` fixture tier in
``warchaeology_spark/fixtures/generate.py``: one heavy host that receives
~30% of all text links, 1 in 5 links written non-canonically, one seed per
40 documents, ~400 documents per host, budgets a multiple of the fixture's
(heavy host 8, every third host 3 or 1, default 2). The benchmark seed is
folded into the link and seed hashes, so two seeds give two graphs of the
same shape. The graph is scaled down from the tier's 2M documents (see
``Graph.docs``) so that a crawl pass, its warmup and the sequential oracle
all fit a short run on a 4-core box.

Generation is plain Python plus pyarrow, before the Spark session starts:
the same rows feed the parquet files the engine reads and the sequential
oracle (``frontier/oracle.py``), whose digests are cached next to them.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from warchaeology_spark.fixtures.generate import HEAVY_HOST
from warchaeology_spark.frontier.links import LINK_RE

_M64 = (1 << 64) - 1


@dataclass(frozen=True)
class Graph:
    docs: int

    @property
    def hosts(self) -> int:
        return self.docs // 400

    @property
    def seeds(self) -> int:
        return self.docs // 40

    @property
    def bloom_expected(self) -> int:
        # the mid tier sizes its bloom for 5M keys at 2M documents
        return self.docs * 5 // 2


def _mix(*parts: int) -> int:
    """splitmix64 over the parts: a non-negative 63-bit hash."""
    x = 0
    for p in parts:
        x = (x ^ (p & _M64)) + 0x9E3779B97F4A7C15 & _M64
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & _M64
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & _M64
        x ^= x >> 31
    return x >> 1


_LINK_TAG, _SEED_TAG = 0x4C494E4B, 0x53454544


def host_name(k: int) -> str:
    return HEAVY_HOST if k == 0 else f"h{k}.example.org"


def doc_url(g: Graph, i: int) -> str:
    return f"https://{host_name(i % g.hosts)}/p{i // g.hosts}"


def link_url(g: Graph, seed: int, i: int, j: int, k: int) -> str:
    """Outlink target of (doc i, span j, link k): ~30% on the heavy host,
    1 in 5 written non-canonically."""
    hu = _mix(_LINK_TAG, seed, i, j, k)
    if hu % 10 < 3:
        base = f"https://{HEAVY_HOST}/p{hu % (g.docs // g.hosts)}"
    else:
        base = doc_url(g, hu % g.docs)
    variant = hu % 5
    if variant == 1:
        return base[:12].upper() + base[12:]
    if variant == 2:
        return base + "#frag"
    if variant == 3:
        return re.sub(r"^https://([^/]+)/", r"https://\1:443/", base)
    if variant == 4:
        return base + "?b=2&a=1"
    return base


def gen_documents(g: Graph, seed: int) -> list[dict]:
    docs = []
    for i in range(g.docs):
        spans = []
        for j in range(i % 4 + 2):
            if (i + j) % 3 == 0:
                ref = f"https://{host_name((i * 7 + j) % g.hosts)}/img/{i}_{j}.jpg"
                spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": j})
                continue
            link0 = link_url(g, seed, i, j, 0)
            if (i + j) % 2 == 0:
                text = (f'span {j} of doc-{i:06d}: see <a href="{link0}">link</a>'
                        f" and {link_url(g, seed, i, j, 1)} for more.")
            else:
                text = f'span {j} of doc-{i:06d}: see <a href="{link0}">link</a>.'
            spans.append({"kind": "text", "text": text, "media_ref": None, "offset": j})
        docs.append({"doc_id": f"doc-{i:06d}", "url": doc_url(g, i), "spans": spans})
    return docs


def gen_seeds(g: Graph, seed: int) -> list[dict]:
    out = []
    for i in range(g.seeds):
        base = doc_url(g, _mix(_SEED_TAG, seed, i) % g.docs)
        if i % 3 == 0:
            url = base[:8].upper() + base[8:]
        elif i % 3 == 1:
            url = base + "#top"
        else:
            url = base
        out.append({"url": url, "seed_rank": i})
    return out


def gen_robots(g: Graph) -> list[dict]:
    """~10% of hosts disallow one /p<k> prefix; the last host disallows all."""
    last = g.hosts - 1
    return [
        {"host": host_name(k), "path_pref": "/" if k == last else f"/p{k % 7}", "allow": False}
        for k in range(g.hosts)
        if k % 10 == 3 or k == last
    ]


def gen_politeness(g: Graph, budget_scale: int) -> list[dict]:
    return [
        {
            "host": host_name(k),
            "max_per_round": (8 if k == 0 else 1 if k % 9 == 6 else 3) * budget_scale,
            "crawl_delay_ms": (k % 5) * 100 + 100,
        }
        for k in range(0, g.hosts, 3)
    ]


SCHEMAS = {
    "documents": pa.schema([
        ("doc_id", pa.string()),
        ("url", pa.string()),
        ("spans", pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32()),
        ]))),
    ]),
    "seeds": pa.schema([("url", pa.string()), ("seed_rank", pa.int32())]),
    "robots": pa.schema([("host", pa.string()), ("path_pref", pa.string()), ("allow", pa.bool_())]),
    "politeness": pa.schema([
        ("host", pa.string()), ("max_per_round", pa.int32()), ("crawl_delay_ms", pa.int32()),
    ]),
}


def graph_rows(g: Graph, seed: int, budget_scale: int) -> dict[str, list[dict]]:
    return {
        "documents": gen_documents(g, seed),
        "seeds": gen_seeds(g, seed),
        "robots": gen_robots(g),
        "politeness": gen_politeness(g, budget_scale),
    }


def write_rows(rows: dict[str, list[dict]], out_dir: str, files: int) -> None:
    """One parquet directory per table, split into ``files`` files so the
    reader plans several partitions, as for a ``spark.range`` input."""
    for name, recs in rows.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        step = -(-len(recs) // files) or 1
        for k, lo in enumerate(range(0, max(len(recs), 1), step)):
            table = pa.Table.from_pylist(recs[lo:lo + step], schema=SCHEMAS[name])
            pq.write_table(table, os.path.join(d, f"part-{k:05d}.parquet"))


_LINK = re.compile(LINK_RE)


def properties(g: Graph, rows: dict[str, list[dict]], oracle) -> dict:
    """The input's shape as measured, plus what the oracle crawl did."""
    links_of: dict[str, int] = {}
    n_links = text_links = heavy = 0
    for d in rows["documents"]:
        n = 0
        for s in d["spans"]:
            if s["kind"] == "media":
                n += 1
                continue
            urls = _LINK.findall(s["text"])
            n += len(urls)
            text_links += len(urls)
            heavy += sum(HEAVY_HOST in u.lower() for u in urls)
        links_of[d["url"]] = n
        n_links += n
    cands = [0] * len(oracle.metrics)
    for e in oracle.fetch_log:
        cands[e["round"]] += links_of.get(e["url_canon"], 0)
    return {
        "documents": g.docs,
        "hosts": g.hosts,
        "seeds": g.seeds,
        "links_per_doc": round(n_links / g.docs, 4),
        # media refs stay on their own host, so the ~30% holds for text links
        "heavy_host_share": round(heavy / n_links, 4),
        "heavy_host_share_of_text_links": round(heavy / text_links, 4),
        # novel URLs / links extracted from the round's fetched documents
        "novel_share_per_round": [
            round(m["novel"] / c, 4) if c else 0.0 for m, c in zip(oracle.metrics, cands)
        ],
        "scheduled_per_round": [m["scheduled"] for m in oracle.metrics],
        "final_seen": len(oracle.seen),
        "bloom_expected": g.bloom_expected,
        "final_seen_vs_bloom": round(len(oracle.seen) / g.bloom_expected, 4),
    }


def save_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def load_json(path: str):
    with open(path) as f:
        return json.load(f)

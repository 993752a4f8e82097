"""Planted-truth webtext corpus for the ``dedup_full`` workload.

The benchmark owns this generator, so a change to the package's own corpus
code cannot change the benchmark's inputs. From one seed it makes:

- ``n_docs`` base pages: words drawn from a random 4,000-word vocabulary
  (35% stopwords), lognormal length (median ~200 words, clipped to
  [60, 4000]), hosts drawn Zipf(1.2) so LSH buckets and shuffles skew, and
  per-host boilerplate in the HTML (nav bar, footer) that must NOT pair;
- planted duplicates, each labelled ``(url_a, url_b, kind)``:
  5% ``exact`` (same text, another host), 5% ``near`` (2% of words
  replaced, another host) and 2% ``substring`` (a contiguous 50-70% slice
  of a page of at least 40 words, same host).
"""

from __future__ import annotations

import datetime
import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_STOP = "the of and to in a is that it was for on are as with his they at".split()
KINDS = (("exact", 0.05), ("near", 0.05), ("substring", 0.02))


def _html(host: str, title: str, text: str) -> bytes:
    return (
        f"<html><head><title>{title}</title><style>body{{margin:0}}</style></head><body>\n"
        f'<div class="nav">site {host} navigation home about contact archive</div>\n'
        f"<script>var x=1;</script>\n<p>{text}</p>\n"
        f'<div class="footer">copyright {host} all rights reserved terms privacy</div>\n'
        f"</body></html>"
    ).encode()


def generate(n_docs: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(pages, truth): pages has the pipeline's input schema
    (url, warc_ts, html, text, lang); truth has (url_a, url_b, kind)."""
    rng = np.random.default_rng([seed, 0xDED0])
    lengths = rng.integers(3, 11, size=4000)
    vocab = np.array(["".join(rng.choice(_LETTERS, n)) for n in lengths], dtype=object)
    stop = np.array(_STOP, dtype=object)
    n_hosts = max(4, n_docs // 50)
    host_p = 1.0 / np.arange(1, n_hosts + 1) ** 1.2
    host_p /= host_p.sum()
    hosts = rng.choice(n_hosts, size=n_docs, p=host_p)
    n_words = np.clip(rng.lognormal(5.3, 0.5, size=n_docs).astype(int), 60, 4000)

    texts: list[str] = []
    for n in n_words:
        words = np.where(rng.random(n) < 0.35, rng.choice(stop, n), rng.choice(vocab, n))
        texts.append(" ".join(words))
    doc_hosts = list(hosts)
    truth: list[tuple[int, int, str]] = []
    for kind, frac in KINDS:
        for b in rng.choice(n_docs, size=int(n_docs * frac), replace=False):
            words = texts[b].split(" ")
            if kind == "exact":
                text, host = texts[b], int(rng.choice(n_hosts, p=host_p))
            elif kind == "near":
                idx = rng.choice(len(words), size=max(1, len(words) // 50), replace=False)
                for i, w in zip(idx, rng.choice(vocab, size=len(idx))):
                    words[i] = w
                text, host = " ".join(words), int(rng.choice(n_hosts, p=host_p))
            else:
                if len(words) < 40:
                    continue
                span = max(30, int(len(words) * rng.uniform(0.5, 0.7)))
                start = int(rng.integers(0, len(words) - span + 1))
                text, host = " ".join(words[start : start + span]), int(hosts[b])
            truth.append((int(b), len(texts), kind))
            texts.append(text)
            doc_hosts.append(host)

    # shuffle so planted copies are not adjacent to their bases
    order = rng.permutation(len(texts))
    position = np.empty_like(order)
    position[order] = np.arange(len(order))
    t0 = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)
    urls = [f"https://host{doc_hosts[i]:04d}.example/p{position[i]:08d}" for i in range(len(texts))]
    pages = pd.DataFrame(
        {
            "url": [urls[i] for i in order],
            "warc_ts": [t0 + datetime.timedelta(seconds=int(position[i])) for i in order],
            "html": [_html(urls[i].split("/")[2], f"page {position[i]}", texts[i]) for i in order],
            "text": [texts[i] for i in order],
            "lang": "en",
        }
    )
    truth_df = pd.DataFrame(
        [(urls[a], urls[b], k) for a, b, k in truth], columns=["url_a", "url_b", "kind"]
    )
    return pages, truth_df


def write_parquet(pages: pd.DataFrame, path: str, files: int) -> None:
    """Write ``pages`` as ``files`` parquet files, fixing the input
    partitioning the pipeline starts from."""
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    for i, part in enumerate(np.array_split(np.arange(len(pages)), files)):
        tbl = pa.Table.from_pandas(pages.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(tbl, f"{path}/part-{i:03d}.parquet")


def digest(*frames: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for df in frames:
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()[:16]


def digest_rows(rows) -> str:
    return hashlib.sha256(repr(list(rows)).encode()).hexdigest()[:16]


def truth_clusters(urls: pd.Series, truth: pd.DataFrame) -> dict[str, int]:
    """url -> truth cluster id: the connected components of the planted
    pairs (a page with several planted copies forms one cluster)."""
    parent = {u: u for u in urls}

    def find(u: str) -> str:
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in zip(truth["url_a"], truth["url_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots: dict[str, int] = {}
    return {u: roots.setdefault(find(u), len(roots)) for u in urls}

"""Seeded input generators for the crawl-rank benchmark, with ground truth.

Every generator is a pure function of ``(seed, size)``: the same arguments
give byte-identical inputs. Each returns the engine input (an Arrow table in
the shape the engine reads) and the ground truth the output checks use:

* ``crawl_pages``  -- a Nutch ``webpage`` mirror (``sources.hbase.MIRROR_SCHEMA``)
  with reversed row keys and power-law in-degree, plus the dirt the engine's
  cleaning must remove. Truth: the expected ``webpage_edges`` row count and
  the expected clean edge set after ``dedup_edges``.
* ``host_trust``   -- a Nutch ``host`` mirror with ``mtdt:_tf_`` trust flags.
  Truth: the expected clean host edge set and the trusted hosts.
* ``neardup_corpus`` -- a Zipf-vocabulary corpus with planted near-duplicates.
  Truth: the planted cluster of every document.

Only numpy and the standard library are used; nothing here touches Spark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

MIRROR_ARROW_SCHEMA = pa.schema(
    [
        ("row_key", pa.string()),
        ("outlinks", pa.map_(pa.string(), pa.string())),
        ("metadata", pa.map_(pa.string(), pa.string())),
        ("score_legacy", pa.float64()),
    ]
)
CORPUS_ARROW_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

#: outlink keys ``url_is_valid`` / ``host_is_valid`` must reject
_INVALID_URLS = ("http://", "dummy", "mailto:someone", "http://intranet", "ftp:/broken")
_INVALID_HOSTS = ("localhost", "intranet", "", "router")

#: dirt rates of the crawl mirrors (shares of clean outlinks, or of pages)
FRAGMENT_RATE = 0.03
INVALID_RATE = 0.01
SELF_LOOP_RATE = 0.01
PAD_RATE = 0.02
DANGLING_RATE = 0.12
UNCRAWLED_SHARE = 0.30
UNREVERSED_KEY_RATE = 0.05


def _host_names(rng: np.random.Generator, n: int) -> list[str]:
    subs = np.array(["www", "blog", "news", "shop"])
    tlds = np.array(["com", "org", "net", "io"])
    s = rng.integers(0, len(subs), n)
    t = rng.integers(0, len(tlds), n)
    return [f"{subs[s[i]]}.site{i}.{tlds[t[i]]}" for i in range(n)]


def reverse_host(host: str) -> str:
    return ".".join(reversed(host.split(".")))


def reverse_url(url: str) -> str:
    """``scheme://host/rest`` -> ``reversed.host:scheme/rest`` (the Nutch
    row-key form; the generated URLs carry no port, query or userinfo)."""
    scheme, rest = url.split("://", 1)
    host, _, path = rest.partition("/")
    return f"{reverse_host(host)}:{scheme}/{path}"


def _powerlaw_weights(rng: np.random.Generator, n: int, alpha: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** alpha
    rng.shuffle(w)
    return w / w.sum()


def _outdegrees(rng: np.random.Generator, n: int, mean: float) -> np.ndarray:
    """Heavy-tailed out-degrees summing to exactly ``n * mean``, with
    exactly DANGLING_RATE of the pages dangling: the input size is the
    same for every seed."""
    live = rng.permutation(n)[: n - int(n * DANGLING_RATE)]
    w = rng.pareto(2.0, len(live)) + 1.0
    deg = np.zeros(n, dtype=np.int64)
    deg[live] = rng.multinomial(int(n * mean) - len(live), w / w.sum()) + 1
    return deg


def _sample_targets(
    rng: np.random.Generator, weights: np.ndarray, src: int, k: int
) -> list[int]:
    """Up to ``k`` distinct power-law targets, never ``src`` itself."""
    if k == 0:
        return []
    draw = rng.choice(len(weights), size=2 * k + 2, p=weights)
    out: list[int] = []
    seen = {src}
    for t in draw.tolist():
        if t not in seen:
            seen.add(t)
            out.append(t)
            if len(out) == k:
                break
    return out


def _dirty_outlinks(
    rng: np.random.Generator,
    clean: list[str],
    self_key: str,
    invalid: tuple[str, ...],
    fragments: bool,
) -> tuple[dict[str, str], int]:
    """Outlink map holding every ``clean`` target plus planted dirt.

    Returns (map, number of extra rows the engine's scan keeps before
    ``dedup_edges``): fragment variants survive ``webpage_edges`` as their
    own edges; padded, invalid and self-loop keys do not."""
    links: dict[str, str] = {}
    extra = 0
    for i, dst in enumerate(clean):
        r = rng.random(4)
        # a padded key REPLACES the clean one half the time, else rides along
        if r[0] < PAD_RATE:
            links[f"  {dst} "] = f"anchor {i}"
            if r[1] < 0.5:
                continue
        links[dst] = f"anchor {i}"
        if fragments and r[2] < FRAGMENT_RATE:
            links[f"{dst}#sec{i}"] = "fragment"
            extra += 1
    n = len(clean)
    for _ in range(rng.binomial(n, INVALID_RATE) if n else 0):
        links[invalid[rng.integers(0, len(invalid))]] = "invalid"
    if n and rng.random() < SELF_LOOP_RATE * n:
        links[self_key.upper()] = "self"
        links[self_key] = "self"
    return links, extra


def make_crawl(seed: int, pages: int, hosts: int, mean_outlinks: float) -> tuple[pa.Table, dict]:
    """Nutch webpage mirror of ``pages`` crawled pages on ``hosts`` hosts."""
    rng = np.random.default_rng([seed, 1])
    host = _host_names(rng, hosts)
    n_uncrawled = int(pages * UNCRAWLED_SHARE / (1.0 - UNCRAWLED_SHARE))
    total = pages + n_uncrawled
    page_host = rng.integers(0, hosts, total)
    scheme = np.where(rng.random(total) < 0.1, "https", "http")
    urls = [
        f"{scheme[i]}://{host[page_host[i]]}/{'p' if i < pages else 'u'}{i}.html"
        for i in range(total)
    ]
    weights = _powerlaw_weights(rng, total, 0.9)
    deg = _outdegrees(rng, pages, mean_outlinks)

    rows_key, rows_ol, rows_md, rows_score = [], [], [], []
    clean_src: list[str] = []
    clean_dst: list[str] = []
    scan_edges = 0
    outlink_keys = 0
    for i in range(pages):
        targets = [urls[t] for t in _sample_targets(rng, weights, i, int(deg[i]))]
        links, extra = _dirty_outlinks(rng, targets, urls[i], _INVALID_URLS, True)
        clean_src.extend([urls[i]] * len(targets))
        clean_dst.extend(targets)
        scan_edges += len(targets) + extra
        outlink_keys += len(links)
        unreversed = rng.random() < UNREVERSED_KEY_RATE
        rows_key.append(urls[i] if unreversed else reverse_url(urls[i]))
        rows_ol.append(list(links.items()))
        rows_md.append([("cs", "1")])
        rows_score.append(float(rng.random()))
    table = pa.table(
        [rows_key, rows_ol, rows_md, rows_score], schema=MIRROR_ARROW_SCHEMA
    )
    truth = {
        "outlinks": outlink_keys,
        "scan_edges": scan_edges,
        "edges": pa.table({"src": clean_src, "dst": clean_dst}),
    }
    return table, truth


def make_hosts(seed: int, hosts: int, mean_outlinks: float, trusted: float) -> tuple[pa.Table, dict]:
    """Nutch host mirror: ``hosts`` crawled hosts, a ``trusted`` share of
    them flagged ``mtdt:_tf_=1``. Every crawled host ends up an endpoint of
    at least one clean edge, so the rank vertex set is the edge endpoints."""
    rng = np.random.default_rng([seed, 2])
    n_uncrawled = int(hosts * UNCRAWLED_SHARE / (1.0 - UNCRAWLED_SHARE))
    names = _host_names(rng, hosts + n_uncrawled)
    weights = _powerlaw_weights(rng, len(names), 0.8)
    deg = _outdegrees(rng, hosts, mean_outlinks)
    targets = [_sample_targets(rng, weights, i, int(deg[i])) for i in range(hosts)]
    # a crawled host with neither in- nor out-edges gets one inlink
    indeg = np.zeros(len(names), dtype=np.int64)
    for ts in targets:
        indeg[ts] += 1
    linked = [i for i in range(hosts) if targets[i]]
    for i in range(hosts):
        if not targets[i] and indeg[i] == 0:
            targets[linked[rng.integers(0, len(linked))]].append(i)

    flag_draw = rng.random(hosts)
    rows_key, rows_ol, rows_md, rows_score = [], [], [], []
    clean_src: list[str] = []
    clean_dst: list[str] = []
    trusted_hosts: list[str] = []
    outlink_keys = 0
    for i in range(hosts):
        clean = [names[t] for t in targets[i]]
        links, _ = _dirty_outlinks(rng, clean, names[i], _INVALID_HOSTS, False)
        clean_src.extend([names[i]] * len(clean))
        clean_dst.extend(clean)
        outlink_keys += len(links)
        if flag_draw[i] < trusted:
            md = [("_tf_", "1")]
            trusted_hosts.append(names[i])
        elif flag_draw[i] < trusted + 0.01:
            md = [("_tf_", "yes")]  # unparseable: must read as untrusted
        else:
            md = [("_tf_", "0")]
        rows_key.append(reverse_host(names[i]))
        rows_ol.append(list(links.items()))
        rows_md.append(md)
        rows_score.append(float(rng.random()))
    table = pa.table(
        [rows_key, rows_ol, rows_md, rows_score], schema=MIRROR_ARROW_SCHEMA
    )
    truth = {
        "outlinks": outlink_keys,
        "scan_edges": len(clean_src),
        "edges": pa.table({"src": clean_src, "dst": clean_dst}),
        "crawled": [names[i] for i in range(hosts)],
        "trusted": trusted_hosts,
    }
    return table, truth


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = ""
    i += 26 * 26  # at least three letters
    while i:
        i, r = divmod(i, 26)
        out = letters[r] + out
    return out


def make_corpus(
    seed: int, docs: int, vocab: int, words: tuple[int, int], dup_share: float, edit_share: float
) -> tuple[pa.Table, dict]:
    """``docs`` documents of Zipf-drawn words; ``dup_share`` of them are
    copies of an original with ``edit_share`` of their words replaced."""
    rng = np.random.default_rng([seed, 3])
    lexicon = np.array([_word(i) for i in range(vocab)])
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** 1.05
    p /= p.sum()
    n_dup = int(docs * dup_share)
    n_orig = docs - n_dup
    ids = rng.permutation(docs) + 1
    lengths = rng.integers(words[0], words[1] + 1, n_orig)
    drawn = lexicon[rng.choice(vocab, size=int(lengths.sum()), p=p)]
    bodies = np.split(drawn, np.cumsum(lengths)[:-1])
    texts = [" ".join(b) for b in bodies]
    # planted cluster label: the id of the original a document copies
    base_of = np.concatenate([ids[:n_orig], np.zeros(n_dup, dtype=ids.dtype)])
    for j in range(n_dup):
        base = int(rng.integers(0, n_orig))
        body = bodies[base].copy()
        k = max(1, int(round(len(body) * edit_share)))
        pos = rng.choice(len(body), size=k, replace=False)
        body[pos] = lexicon[rng.choice(vocab, size=k, p=p)]
        texts.append(" ".join(body))
        base_of[n_orig + j] = ids[base]
    table = pa.table({"doc_id": ids.astype(np.int64), "text": texts}, schema=CORPUS_ARROW_SCHEMA)
    return table, {"base_of": base_of}

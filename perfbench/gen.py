"""Seeded input generators for the benchmark (numpy + pyarrow only).

Every generator takes a ``numpy.random.Generator`` built from the
workload seed and returns plain Python/pyarrow data, so the program
under test sees only the files written from it. The same seed gives
the same bytes.

Page construction (serve and learn). Each page is a run of digit-free
filler with two blocks of decoy prices; a positive page also carries
one planted price marked by ``PLANT_WORD``. The planted price sits at
least ``GAP`` characters from any decoy on both sides, wider than the
extraction snippet (150 characters), so no decoy snippet contains the
marker and no planted snippet contains a decoy word. That makes the
marker a perfect separator within every domain, so a correct
extract -> featurize -> train -> score -> pick chain recovers every
planted price exactly; the serve correctness gate relies on it.
"""

from __future__ import annotations

import json
import random

import numpy as np
import pyarrow as pa

FILLER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo"
).split()
# Decoy contexts carry a currency symbol or the word "price", so the
# extraction's snippet gate keeps them as candidates.
DECOYS = ("was $", "list price ", "shipping $", "save $", "msrp $", "bundle $")
# Chosen so its hashed term id (xxhash64 mod 1000) collides with no
# FILLER or DECOYS token; perfbench/selftest.py re-checks this.
PLANT_WORD = "nowonly"
GAP = 170

# serve status truth table: (kind, page is positive, domain is known)
# -> expected status. ``updated`` is the pattern price relative to the
# planted price P (or to a reference price for negative pages).
UPDATED_KINDS = {
    "equals": lambda p: p,
    "minor": lambda p: round(p * 1.05, 2),
    "major": lambda p: round(p * 1.6, 2),
    "zero": lambda p: 0.0,
}


def expected_status(positive: bool, known: bool, kind: str) -> tuple[float, str]:
    """(model_price, status) the serve path must produce for a page.
    Mirrors functions.pricing.price_status on the closed-form model
    outcome: planted price found, -1 (no positive candidate) or -2 (no
    model for the domain)."""
    if not known:
        return -2.0, "bothFailed" if kind == "zero" else "missingModel"
    if not positive:
        return -1.0, "bothFailed" if kind == "zero" else "allFalseCandids"
    return None, {
        "equals": "modeledPatternEquals",
        "minor": "minorModelPatternConflict",
        "major": "majorModelPatternConflict",
        "zero": "patternFailed",
    }[kind]


class _Text:
    """Digit-free filler cut from one seeded word stream at word
    boundaries, so every token is a FILLER word."""

    def __init__(self, rng: np.random.Generator, n_words: int = 40_000):
        self.text = " ".join(rng.choice(FILLER, size=n_words)) + " "
        self.starts = np.flatnonzero(np.frombuffer(self.text.encode(), np.uint8) == 32) + 1
        self.rand = random.Random(int(rng.integers(2**62)))

    def filler(self, n_chars: int) -> str:
        i = self.rand.randrange(len(self.starts) // 2)
        a = int(self.starts[i])
        b = int(self.starts[np.searchsorted(self.starts, a + n_chars)])
        return self.text[a:b]

    def decoys(self, price: float, n: int) -> str:
        r = self.rand
        parts = []
        for _ in range(n):
            # far from the true price: x2..x9 or /3../20
            f = r.uniform(2.0, 9.0) if r.random() < 0.5 else 1.0 / r.uniform(3.0, 20.0)
            parts.append(f"{r.choice(DECOYS)}{price * f + 0.01:.2f} {r.choice(FILLER)} ")
        return "".join(parts)

    def html(self, price: float, positive: bool, n_decoys: int) -> str:
        r = self.rand
        # heavy-tailed page size: lognormal head/tail filler, capped
        head = int(min(r.lognormvariate(6.3, 0.9), 30_000))
        tail = int(min(r.lognormvariate(6.3, 0.9), 30_000))
        n_a = r.randint(n_decoys // 3, 2 * n_decoys // 3)
        body = [self.filler(head), self.decoys(price, n_a), self.filler(GAP)]
        if positive:
            body += [f"{PLANT_WORD} ${price:.2f} ", self.filler(GAP)]
        body += [self.decoys(price, n_decoys - n_a), self.filler(tail)]
        return "".join(body)


def zipf_sizes(total: int, n_domains: int, s: float = 1.1, floor: int = 4) -> np.ndarray:
    """Zipf-skewed domain sizes summing to ``total``, each >= floor,
    largest first. The sizes do not depend on the seed: which domains
    share a post-shuffle task, and so the critical path of the
    per-domain fit, stays the same from seed to seed."""
    w = 1.0 / np.arange(1, n_domains + 1) ** s
    sizes = np.maximum(np.floor(w / w.sum() * (total - floor * n_domains)).astype(int), 0) + floor
    sizes[0] += total - sizes.sum()
    return sizes


def pages(rng: np.random.Generator, n_pages: int, n_domains: int, tag: str,
          pos_rate: float = 0.7, n_decoys: int = 20, unknown_domains: int = 0,
          min_pos: int = 6, floor: int = 12) -> dict:
    """Labeled pages as columns: url, domain_idx, html, price (planted or
    reference), positive, kind. Domains 0..n_domains-1 are ``known``
    and hold at least ``floor`` pages; ``unknown_domains`` extra domains
    (indices after them) get a few pages each and no model. Each page's
    label is drawn independently of its domain; a known domain that
    drew fewer than ``min_pos`` positives or no negative is topped up
    (training zeroes the idf of terms in fewer than 5 rows, so a domain
    with under 5 positives could not learn the planted marker)."""
    sizes = zipf_sizes(n_pages, n_domains, floor=floor)
    dom = np.repeat(np.arange(n_domains), sizes)
    n_unknown = 0
    if unknown_domains:
        n_unknown = max(n_pages // 50, 2 * unknown_domains)
        dom = np.concatenate([dom, n_domains + np.arange(n_unknown) % unknown_domains])
    dom = rng.permutation(dom)
    n = dom.size
    positive = rng.random(n) < pos_rate
    for d in range(n_domains):
        idx = np.flatnonzero(dom == d)
        neg = idx[~positive[idx]]
        positive[neg[: max(min_pos - int(positive[idx].sum()), 0)]] = True
        if positive[idx].all():
            positive[idx[0]] = False
    prices = np.round(rng.uniform(5.0, 2000.0, n), 2)
    kinds = rng.choice(list(UPDATED_KINDS), size=n, p=[0.55, 0.2, 0.15, 0.1])
    decoys = rng.integers(n_decoys - 4, n_decoys + 5, n)
    text = _Text(rng)
    html = [text.html(float(prices[i]), bool(positive[i]), int(decoys[i])) for i in range(n)]
    urls = [f"http://shop{dom[i]:02d}.example.com/p/{tag}-{i}" for i in range(n)]
    return {
        "url": urls, "domain_idx": dom, "html": html, "price": prices,
        "positive": positive, "kind": kinds, "known": dom < n_domains,
        "candidates": int(decoys.sum() + positive.sum()),
    }


def domains_with_both_classes(pg: dict) -> int:
    both = 0
    for d in np.unique(pg["domain_idx"][pg["known"]]):
        pos = pg["positive"][pg["domain_idx"] == d]
        both += bool(pos.any() and (~pos).any())
    return both


def page_messages(pg: dict, corrupt_every: int = 0) -> list[str]:
    """Serve wire format: one JSON document per page. ``updatedPrice``
    follows the page's kind; every ``corrupt_every``-th message is
    truncated JSON (routed to logs_corrupt by the serve path)."""
    out = []
    for i, url in enumerate(pg["url"]):
        p = float(pg["price"][i])
        msg = json.dumps({
            "url": url, "html": pg["html"][i], "price": p,
            "updatedPrice": UPDATED_KINDS[pg["kind"][i]](p),
        })
        if corrupt_every and i % corrupt_every == corrupt_every - 1:
            msg = msg[: len(msg) // 2]
        out.append(msg)
    return out


def training_table(pg: dict) -> pa.Table:
    """learn input: (url, html, price, updated_price). Positive pages
    carry price == updated_price == planted price, so exactly their
    planted candidate labels positive; negative pages carry a price
    that appears nowhere on the page."""
    return pa.table({
        "url": pg["url"], "html": pg["html"],
        "price": pg["price"], "updated_price": pg["price"],
    })


def events(rng: np.random.Generator, n: int, id_base: int) -> pa.Table:
    """Event rows shaped like the fixtures' ``events`` table."""
    types = np.array(["view", "click", "cart", "purchase", "search"])
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ts0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")
    value = np.round(rng.lognormal(3.0, 1.0, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 1000, n)]
    return pa.table({
        "event_id": pa.array(id_base + np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, 5000, n), pa.int64()),
        "event_type": pa.array(types[rng.integers(0, len(types), n)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props),
    })


def lineitem(rng: np.random.Generator, n: int, n_parts: int, n_supp: int) -> pa.Table:
    """Price-observation rows with the fixtures' ``lineitem`` schema."""
    n_orders = n // 4 + 1
    orderkey = np.sort(rng.integers(1, n_orders * 4, n))
    linenumber = np.ones(n, dtype=np.int32)
    same = np.concatenate([[False], orderkey[1:] == orderkey[:-1]])
    for i in np.flatnonzero(same):
        linenumber[i] = linenumber[i - 1] + 1
    part = rng.integers(1, n_parts + 1, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    # a few price levels per part so window deltas and hot levels vary
    base = 900.0 + (part % 997) * 1.5
    ext = np.round(qty * base * rng.choice([1.0, 1.0, 1.02, 0.97], n), 2)
    ship = np.datetime64("1995-01-01T00:00:00", "us") + rng.integers(
        0, 2000, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(ext, pa.float64()),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2), pa.float64()),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2), pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

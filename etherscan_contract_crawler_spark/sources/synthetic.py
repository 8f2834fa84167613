"""M0 — deterministic data plane (SURVEY.md §7): seed lists, image payloads,
listing pages. Pure seed-pinned functions, no Spark, no network, no wall-clock.

The synthetic fetcher stands in for the reference's HTTP layer
(contract_crawler.py:290-314 ``download_source`` / :377-397 API fetch): the
production fetcher and this one share the same ``mapInPandas`` harness
(operators/fetch.py), so swapping in real HTTP changes one injected callable.
"""

from __future__ import annotations

import hashlib
import io

import numpy as np

from ..functions.images import encode_image, phash64

_NOUNS = "tower river falcon lantern meadow harbor circuit glacier ember prairie".split()
_VERBS = "glows drifts hums spins folds rises echoes settles turns waits".split()
#: suffixes chosen so each generated host IS its own registrable domain
#: (site00001.co.uk -> registrable site00001.co.uk, etc.)
_TLDS = [".com", ".org", ".net", ".co.uk", ".io"]

#: deterministic fetch-failure knob: sha1-int % FAIL_MOD == 0 -> transient
#: failure on first attempts (exercises retry W3 / dead-letter).
FAIL_MOD = 53
HARD_FAIL_MOD = 211  # fails all attempts -> dead-letter


def zipf_weights(n: int, s: float = 1.2) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1), s)
    return w / w.sum()


def domain_name(i: int) -> str:
    return f"site{i:05d}{_TLDS[i % len(_TLDS)]}"


def gen_seed_rows(
    n: int,
    n_domains: int = 20,
    seed: int = 42,
    dup_rate: float = 0.10,
    malformed_rate: float = 0.01,
) -> list[dict]:
    """FIXTURES.md §2 seed_list: Zipf-hot domains, ~10% duplicate URLs (some
    differing only in case/fragment), ~1% malformed addresses."""
    rng = np.random.default_rng(seed)
    weights = zipf_weights(n_domains)
    rows: list[dict] = []
    for i in range(n):
        if rows and rng.random() < dup_rate:
            base = rows[rng.integers(0, len(rows))]
            variant = rng.random()
            url = base["url"]
            if variant < 0.33:
                url = url.replace("https://", "https://").replace("site", "SITE", 1)
            elif variant < 0.66:
                url = url.split("#")[0] + "#codeview"
            rows.append(
                {
                    "block": None,
                    "tx_hash": None,
                    "url": url,
                    "priority": float(np.round(rng.random(), 9)),
                }
            )
            continue
        d = domain_name(int(rng.choice(n_domains, p=weights)))
        addr = "0x" + bytes(rng.integers(0, 256, 20, dtype=np.uint8)).hex()
        if rng.random() < malformed_rate:
            addr = addr[: 2 + int(rng.integers(1, 39))]  # wrong length -> invalid
        rows.append(
            {
                "block": int(rng.integers(1, 10_000_000)),
                "tx_hash": "0x" + bytes(rng.integers(0, 256, 32, dtype=np.uint8)).hex(),
                "url": f"https://{d}/address/{addr}#code",
                "priority": float(np.round(rng.random(), 9)),
            }
        )
    return rows


def payload_for_key(key_hex: str, encode: bool = True, with_phash: bool = True) -> dict:
    """Deterministic image+caption payload for a url key (FIXTURES.md §1).

    RNG is keyed by the first 16 hex chars of the key, so any worker (and the
    test oracle) regenerates the identical payload independently.
    ``encode=False`` skips the container encode (validators only need the
    reference pixels/caption/phash — re-encoding them would double the cost);
    ``with_phash=False`` additionally skips the reference phash (the lossless
    validation path re-hashes the decoded pixels itself, so hashing the
    reference too would be a third phash per URL)."""
    rng = np.random.default_rng(int(key_hex[:16], 16))
    w = int(rng.choice([32, 64, 128]))
    h = int(rng.choice([32, 64, 128]))
    fmt = "png" if rng.random() < 0.8 else "jpeg"
    pixels = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    noun = _NOUNS[int(rng.integers(0, len(_NOUNS)))]
    verb = _VERBS[int(rng.integers(0, len(_VERBS)))]
    caption = f"synthetic caption {key_hex[:12]} {noun} {verb}"
    data = encode_image(pixels, fmt) if encode else b""
    return {
        "image_id": key_hex,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": phash64(pixels) if with_phash else None,
        "_pixels": pixels,  # for oracles/tests only; never shipped through Spark
    }


def fetch_outcome(key_hex: str, attempt: int) -> str:
    """Deterministic fetch result: 'ok' | 'transient' | 'hard'.

    Transient keys succeed on attempt >= 2 (mirrors the reference's
    retry-then-succeed recursion, contract_crawler.py:147-153); hard keys
    never succeed (dead-letter path).
    """
    k = int(key_hex[:16], 16)
    if k % HARD_FAIL_MOD == 0:
        return "hard"
    if k % FAIL_MOD == 0 and attempt < 2:
        return "transient"
    return "ok"


def sha1_hex(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()


def gen_seed_parquet(
    path: str,
    n: int,
    n_domains: int = 5000,
    seed: int = 42,
    dup_rate: float = 0.10,
) -> None:
    """Vectorized bulk seed generator for the bench tier (FIXTURES.md §8):
    same distribution as gen_seed_rows (Zipf-hot domains, ~10% duplicate
    URLs) generated with numpy array ops and written as one parquet file.
    Deterministic for a given (n, n_domains, seed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    weights = zipf_weights(n_domains)
    dom_idx = rng.choice(n_domains, size=n, p=weights)
    addrs = rng.integers(0, 256, (n, 20), dtype=np.uint8)
    hexs = np.array([a.tobytes().hex() for a in addrs])
    domains = np.array([domain_name(i) for i in range(n_domains)])
    urls = np.char.add(
        np.char.add(
            np.char.add("https://", domains[dom_idx]), "/address/0x"
        ),
        np.char.add(hexs, "#code"),
    )
    # duplicates: overwrite a suffix sample with earlier rows
    n_dup = int(n * dup_rate)
    if n_dup:
        src = rng.integers(0, n, n_dup)
        dst = rng.integers(0, n, n_dup)
        urls[dst] = urls[src]
    priority = np.round(rng.random(n), 9)
    block = rng.integers(1, 10_000_000, n)
    tbl = pa.table(
        {
            "block": pa.array(block, pa.int64()),
            "tx_hash": pa.array([None] * n, pa.string()),
            "url": pa.array(urls.tolist(), pa.string()),
            "priority": pa.array(priority, pa.float64()),
        }
    )
    pq.write_table(tbl, path)


def gen_listing_pages(n_pages: int = 20, rows_per_page: int = 25, seed: int = 7) -> list[dict]:
    """FIXTURES.md §6 — listing-page fixture mirroring the header-zipped rows
    the reference scrapes (contract_crawler.py:144-145, pages 1..20 :317)."""
    rng = np.random.default_rng(seed)
    pages = []
    for p in range(1, n_pages + 1):
        rows = []
        for _ in range(rows_per_page):
            addr = "0x" + bytes(rng.integers(0, 256, 20, dtype=np.uint8)).hex()
            rows.append(
                {
                    "address": addr,
                    "contract_name": f"C{int(rng.integers(0, 10**6)):06d}",
                    "balance": f"{rng.random() * 10:.4f} Ether",
                    "txns": str(int(rng.integers(1, 10_000))),
                }
            )
        pages.append({"page": p, "rows": rows})
    return pages

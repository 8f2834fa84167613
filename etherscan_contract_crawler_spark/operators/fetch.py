"""S3/U3 — the fetch stage: ``mapInPandas`` over the scheduled batch.

Reference: sequential ``download_source``/``download_url`` with a shared
cookie-bearing session (contract_crawler.py:290-314, :336-356; session
bootstrap :82-126) and retry-recursion ``retry=3, retry_delay=5``
(:134, :147-153, :290). Spark-first: the scheduled batch is repartitioned by
``domain_hash`` (politeness stays co-located per domain) and fetched inside a
``mapInPandas`` iterator — the iterator-of-batches form runs the session
prologue ONCE per task (U3), then streams Arrow batches through it.

The fetcher is injected: production would be an HTTP client; the sandbox uses
the deterministic synthetic fetcher (sources/synthetic.py) — same harness,
one swapped callable (SURVEY.md §7 "no real network in the sandbox").

Retry semantics follow the reference: retries happen INSIDE the attempt
(immediate recursion, :147-153), so a URL's fate is settled within its epoch;
mark-at-attempt checkpointing (K5, :488-490) then records it seen regardless
of outcome. Hard failures are emitted with status='failed' for the
dead-letter table (retry-as-data, W3, is available for the deferred mode).

Payload landing (the 100 TB path): the fetch stage RETURNS full payload rows
— bytes cross the Arrow boundary exactly once into the JVM, and the engine
lands them with a single ``write.partitionBy(valid).parquet`` in the SAME
job (fetch -> validate -> columnar write, no shuffle, nothing to the
driver). An earlier design wrote parquet from inside the Python workers;
measured on this box it was ~6x slower under 32-way concurrency (concurrent
45 MB pyarrow allocations in every worker stall on page faults), while the
JVM parquet writer pipelines the same bytes with no such cliff.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..sources.synthetic import fetch_outcome, payload_for_key

#: images table schema — exactly BASELINE.json input_hint.
IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)

FETCH_RESULT_DDL = (
    "url_sha1 string, url string, url_canon string, domain string, domain_hash int, "
    "priority double, depth int, scheduled_offset_s double, status string, attempts int, "
    + IMAGES_DDL
    + ", valid boolean"
)

#: fetch_batch emits payload rows in chunks of this many rows (see there)
EMIT_ROWS = 256

FetchFn = Callable[[str, str, int], dict | None]
"""(url_canon, url_sha1, attempt) -> payload dict (input_hint fields) or None."""


def synthetic_fetch_session() -> FetchFn:
    """Per-task 'session' for the deterministic fetcher (stands in for the
    chromedriver/cookie bootstrap, contract_crawler.py:82-126)."""

    def fetch(url_canon: str, key: str, attempt: int) -> dict | None:
        if fetch_outcome(key, attempt) != "ok":
            return None
        p = payload_for_key(key)
        p.pop("_pixels", None)
        return p

    return fetch


def fetch_batch(
    scheduled: DataFrame,
    fetch_session_factory: Callable[[], FetchFn] = synthetic_fetch_session,
    max_retries: int = 3,
) -> DataFrame:
    """Run the fetch stage; returns one full row per attempted URL (ok or
    failed), payload columns null on failure.

    CONTRACT: exactly ONE output row per input row — the loop below appends
    one row per input whatever the fetcher returns (``None`` after the last
    retry settles the row as status='failed'). A fetcher EXCEPTION is not
    caught: it fails the task, so the landing job fails and the epoch
    replays on restart. The engine derives the epoch's schedule cardinality
    and frontier offsets from the LANDED rows (one count-free job instead
    of a separate scheduled.count() wave), which is sound under this
    invariant.

    U4 payload validation (decode + PSNR + caption/phash vs the
    deterministic reference) is fused into the same Arrow pass —
    the payload bytes are already in hand, so a second mapInPandas stage over
    the binary column (plus its shuffle and semi-join) would double the
    heaviest data movement of the epoch for nothing. The standalone
    operators/validate.py stage remains for auditing stored tables.
    """

    cols = [
        "url_sha1", "url", "url_canon", "domain", "domain_hash",
        "priority", "depth", "scheduled_offset_s",
    ]

    # Emit in SMALL chunks, not one batch-sized lump: a 10k-row input batch
    # holds every fetched payload (~hundreds of MB) in Python lists before a
    # single byte reaches the JVM, so the Arrow hop and the parquet writer
    # sit idle while Python fetches, then Python sits idle while one giant
    # batch converts — lumpy allocations on BOTH sides of the boundary.
    # Chunked yields stream payloads into the concurrent output writers
    # (crawl.py's landing write) while the NEXT chunk fetches, and bound
    # per-worker buffered payload to EMIT_ROWS x payload_size. Read at call
    # time, not inside the worker, so the closure carries the value.
    emit_rows = EMIT_ROWS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .validate import validate_payload_row

        fetch = fetch_session_factory()  # once per task (U3)
        for full_pdf in batches:
          for _start in range(0, max(len(full_pdf), 1), emit_rows):
            pdf = full_pdf.iloc[_start : _start + emit_rows]
            out = {c: [] for c in (*cols, "status", "attempts", "image_id", "bytes",
                                   "w", "h", "fmt", "caption", "phash", "valid")}
            for row in pdf.itertuples(index=False):
                payload, attempts = None, 0
                for attempt in range(max_retries + 1):
                    attempts = attempt + 1
                    payload = fetch(row.url_canon, row.url_sha1, attempt)
                    if payload is not None:
                        break
                for c in cols:
                    out[c].append(getattr(row, c))
                out["status"].append("ok" if payload is not None else "failed")
                out["attempts"].append(attempts)
                p = payload or {}
                if payload is None:
                    valid = False
                elif p.get("bytes"):
                    valid = validate_payload_row(p)
                else:
                    valid = True
                out["valid"].append(valid)
                out["image_id"].append(p.get("image_id"))
                # invalid payloads never reach the images table (the engine
                # drops the valid=false dir after the dead-letter merge), so
                # their bytes would cross Arrow and hit the landing write
                # only to be deleted — null them at the source (r3 VERDICT:
                # wasted write bandwidth proportional to the failure rate)
                out["bytes"].append(p.get("bytes") if valid else None)
                out["w"].append(p.get("w"))
                out["h"].append(p.get("h"))
                out["fmt"].append(p.get("fmt"))
                out["caption"].append(p.get("caption"))
                out["phash"].append(p.get("phash"))
            res = pd.DataFrame(out)
            # CRITICAL: with None present (failed rows) pandas coerces int
            # lists to float64, which silently corrupts int64 phash values
            # above 2^53. Pin nullable integer dtypes instead.
            res["phash"] = pd.array(out["phash"], dtype="Int64")
            res["w"] = pd.array(out["w"], dtype="Int32")
            res["h"] = pd.array(out["h"], dtype="Int32")
            yield res

    # spread fetch I/O evenly: key by (domain_hash, fetch_slot) so a hot
    # domain's slots land on different tasks while politeness offsets still
    # serialize them in time. Overpartitioning absorbs residual skew AND
    # shortens the last-wave straggler tail — but the right factor is
    # SCALE-AWARE: at 16 cores a 2x factor is exactly two waves, so one
    # slow task idles 15 cores for its whole overrun (measured: factor 4
    # cut the 16-core epoch 32 -> 20 s, BASELINE.md round 4); at 1-4 cores
    # there is little tail to amortize and extra tasks are pure per-task
    # overhead (measured ~7% at local[1]). Same rule at cluster scale:
    # thousands of slots always want 3-4x task granularity.
    parallelism = scheduled.sparkSession.sparkContext.defaultParallelism
    n_parts = parallelism * (4 if parallelism >= 16 else 2)
    return (
        scheduled.select(*cols, "fetch_slot")
        .repartition(n_parts, "domain_hash", "fetch_slot")
        .drop("fetch_slot")
        .mapInPandas(run, schema=FETCH_RESULT_DDL)
    )

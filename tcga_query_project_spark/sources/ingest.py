"""GDC-style chunked ingest → §1.4 star schema (S4's ingest side).

The reference's download job (vital_status_DESeq.R:60-67) queries the
GDC portal per cancer project and pulls RNA-Seq quantification in
chunks (``GDCdownload(query, files.per.chunk = 75)``), then
``GDCprepare`` materializes the in-RAM genes × samples matrix. This
module is the engine-side analog with the matrix step deleted: a
pluggable per-chunk fetcher runs INSIDE executors (``mapInPandas``
over a chunked manifest), the fetched records normalize into the §1.4
star schema (expression fact + samples/genes dims), and the writers
lay the tables out for the query path — samples hive-partitioned by
(project, short_letter_code) so every cohort predicate partition-
prunes, expression bucketed by gene_id so every per-gene stage (A1
floor, A5 geomeans, A6 GLM groups) joins and groups shuffle-free.

Scale shape: the manifest is tiny (one row per case file); fetch
parallelism = chunks spread across executors, each task holding at
most one chunk of responses in memory (the reference's
files.per.chunk=75 batching, distributed). Chunk membership is
deterministic by barcode hash rather than the reference's sequential
batching — order-free, stable under manifest repartitioning, same
~per_chunk expected batch size (divergence noted; the GDC API does not
care which files share a request).

The default fetcher is a deterministic hermetic simulator (no network
in this environment); a production fetcher plugs in the GDC REST calls
without touching the Spark shape.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcga_query_project_spark.sources.io import write_bucketed

#: columns every fetcher must return, one row per (case, gene)
FETCHED_SCHEMA = (
    "barcode string, project string, short_letter_code string, "
    "vital_status string, days_to_death string, "
    "paper_days_to_last_followup string, "
    "gene_id string, gene_name string, count long"
)

FetchFn = Callable[[list[str]], pd.DataFrame]


def simulated_gdc_fetcher(n_genes: int = 50) -> FetchFn:
    """Hermetic stand-in for the GDC REST fetch: deterministic
    per-(barcode, gene) counts and clinical fields derived from stable
    hashes — same barcodes in, same records out, on any executor. A
    production fetcher has the same signature and returns the same
    columns from the live API."""

    def fetch(barcodes: list[str]) -> pd.DataFrame:
        import hashlib

        rows = []
        for bc in barcodes:
            h = int.from_bytes(
                hashlib.md5(bc.encode()).digest()[:8], "big"
            )
            dead = h % 3 == 0
            for g in range(n_genes):
                hg = int.from_bytes(
                    hashlib.md5(f"{bc}|g{g}".encode()).digest()[:8], "big"
                )
                rows.append(
                    {
                        "barcode": bc,
                        "project": "TCGA-" + bc.split("-")[1],
                        "short_letter_code": "NT" if h % 5 == 0 else "TP",
                        "vital_status": "Dead" if dead else "Alive",
                        "days_to_death": str(100 + h % 900) if dead else None,
                        "paper_days_to_last_followup": (
                            None if dead else str(50 + h % 1200)
                        ),
                        "gene_id": f"ENSG{g:011d}",
                        "gene_name": f"GENE{g}",
                        "count": hg % 500,
                    }
                )
        return pd.DataFrame(rows)

    return fetch


#: Injectable HTTP transport: (url, request_body_or_None, headers) ->
#: response bytes. The default is urllib; tests inject a recorded-
#: response replayer so CI never touches the network.
Transport = Callable[[str, bytes | None, dict], bytes]


def _urllib_transport(url: str, data: bytes | None, headers: dict,
                      timeout: float = 30.0) -> bytes:
    """One HTTP round-trip via the standard library (no third-party
    client in the runtime image). POST when ``data`` is not None."""
    import urllib.request

    req = urllib.request.Request(url, data=data, headers=headers)
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.read()


def _with_retry(transport: Transport, url: str, data: bytes | None,
                headers: dict, retries: int, backoff: float) -> bytes:
    """Retry with exponential backoff on ANY transport error — the
    reference's GDCdownload re-runs failed chunks the same way; a
    100-case ingest must not die on one 502."""
    import time as _time

    last: Exception | None = None
    for attempt in range(retries + 1):
        try:
            return transport(url, data, headers)
        except Exception as exc:  # urllib.error.*, socket.timeout, ...
            last = exc
            if attempt < retries:
                _time.sleep(backoff * (2 ** attempt))
    raise last  # type: ignore[misc]


def _parse_star_counts(tsv: str) -> list[tuple[str, str, int]]:
    """STAR gene counts TSV (the GDC 'Gene Expression Quantification'
    payload GDCprepare reads): ``#``-comment first line, a header row,
    four ``N_*`` summary rows (unmapped/multimapping/noFeature/
    ambiguous) that GDCprepare drops, then one row per gene with the
    ``unstranded`` column as the count. Returns (gene_id, gene_name,
    count) triples."""
    out: list[tuple[str, str, int]] = []
    header: list[str] | None = None
    for line in tsv.splitlines():
        if not line or line.startswith("#"):
            continue
        cells = line.split("\t")
        if header is None:
            header = cells
            continue
        if cells[0].startswith("N_"):
            continue
        row = dict(zip(header, cells))
        out.append((
            row["gene_id"],
            row.get("gene_name", ""),
            int(row["unstranded"]),
        ))
    return out


def gdc_http_fetcher(
    endpoint: str = "https://api.gdc.cancer.gov",
    files_per_request: int = 75,
    retries: int = 3,
    backoff: float = 1.0,
    transport: Transport | None = None,
) -> FetchFn:
    """The LIVE GDC REST fetcher behind the same ``FetchFn`` seam as
    :func:`simulated_gdc_fetcher` — the executor-side analog of the
    reference's ``GDCquery`` + ``GDCdownload(files.per.chunk = 75)`` +
    clinical join (vital_status_DESeq.R:60-67):

    1. POST ``/files`` once per <=``files_per_request`` barcodes
       (the reference's per-chunk request batching): filter on the
       cases' 12-char submitter ids x data_type 'Gene Expression
       Quantification' x workflow 'STAR - Counts'; the hits carry
       ``associated_entities.entity_submitter_id`` (aliquot barcode),
       matched back to the requested sample barcode by prefix.
    2. GET ``/data/<file_id>`` per hit — the STAR counts TSV — with
       retry/exponential backoff per request.
    3. POST ``/cases`` once per batch for the clinical fields
       (demographic.vital_status / days_to_death,
       diagnoses.days_to_last_follow_up — the reference's
       paper_days_to_last_followup source).

    Returns FETCHED_SCHEMA rows; everything downstream
    (:func:`fetch_chunked` grouping, :func:`normalize_star`,
    :func:`write_star`) is identical to the simulated path — the seam
    is the whole point. ``transport`` injection lets the fixture test
    replay recorded responses with zero network; production leaves it
    None (urllib). The closure only captures plain values + module
    functions, so it pickles into ``applyInPandas`` executors."""
    import json as _json

    tx = transport or _urllib_transport

    def fetch(barcodes: list[str]) -> pd.DataFrame:
        headers = {"Content-Type": "application/json"}
        rows = []
        for i in range(0, len(barcodes), files_per_request):
            batch = barcodes[i:i + files_per_request]
            case_ids = sorted({b[:12] for b in batch})
            files_q = _json.dumps({
                "filters": {"op": "and", "content": [
                    {"op": "in", "content": {
                        "field": "cases.submitter_id",
                        "value": case_ids}},
                    {"op": "=", "content": {
                        "field": "files.data_type",
                        "value": "Gene Expression Quantification"}},
                    {"op": "=", "content": {
                        "field": "files.analysis.workflow_type",
                        "value": "STAR - Counts"}},
                ]},
                "fields": ("file_id,cases.submitter_id,cases.project."
                           "project_id,associated_entities."
                           "entity_submitter_id"),
                "size": str(10 * len(batch)),
                "format": "JSON",
            }).encode()
            hits = _json.loads(_with_retry(
                tx, f"{endpoint}/files", files_q, headers,
                retries, backoff,
            ))["data"]["hits"]

            cases_q = _json.dumps({
                "filters": {"op": "in", "content": {
                    "field": "cases.submitter_id", "value": case_ids}},
                "fields": ("submitter_id,demographic.vital_status,"
                           "demographic.days_to_death,"
                           "diagnoses.days_to_last_follow_up"),
                "size": str(len(case_ids)),
                "format": "JSON",
            }).encode()
            clin = {}
            for c in _json.loads(_with_retry(
                tx, f"{endpoint}/cases", cases_q, headers,
                retries, backoff,
            ))["data"]["hits"]:
                demo = c.get("demographic") or {}
                diag = (c.get("diagnoses") or [{}])[0]
                d2d = demo.get("days_to_death")
                d2f = diag.get("days_to_last_follow_up")
                clin[c["submitter_id"]] = (
                    demo.get("vital_status"),
                    None if d2d is None else str(int(d2d)),
                    None if d2f is None else str(int(d2f)),
                )

            for h in hits:
                entities = [
                    e.get("entity_submitter_id", "")
                    for e in h.get("associated_entities") or []
                ]
                # aliquot barcode extends the sample barcode: match
                # the requested barcode that prefixes it
                bc = next(
                    (b for b in batch
                     if any(e.startswith(b) for e in entities)),
                    None,
                )
                if bc is None:
                    continue  # hit for a case outside this request
                project = (h.get("cases") or [{}])[0].get(
                    "project", {}
                ).get("project_id") or "TCGA-" + bc.split("-")[1]
                # sample-type code (barcode chars 14-15): 01 = primary
                # tumor (TP), 11 = solid tissue normal (NT) — the two
                # codes the reference's cohorts use
                code = bc[13:15] if len(bc) >= 15 else "01"
                slc = "NT" if code == "11" else "TP"
                vital, d2d, d2f = clin.get(
                    bc[:12], (None, None, None)
                )
                tsv = _with_retry(
                    tx, f"{endpoint}/data/{h['file_id']}", None,
                    {}, retries, backoff,
                ).decode()
                for gene_id, gene_name, count in _parse_star_counts(tsv):
                    rows.append({
                        "barcode": bc,
                        "project": project,
                        "short_letter_code": slc,
                        "vital_status": vital,
                        "days_to_death": d2d,
                        "paper_days_to_last_followup": d2f,
                        "gene_id": gene_id,
                        "gene_name": gene_name,
                        "count": count,
                    })
        return pd.DataFrame(
            rows,
            columns=["barcode", "project", "short_letter_code",
                     "vital_status", "days_to_death",
                     "paper_days_to_last_followup", "gene_id",
                     "gene_name", "count"],
        )

    return fetch


def gdc_portal_reachable(
    endpoint: str = "https://api.gdc.cancer.gov",
    timeout: float = 3.0,
    transport: Transport | None = None,
) -> bool:
    """True when the GDC ``/status`` endpoint answers — the selection
    probe for :func:`default_fetcher`. Short timeout: an unreachable
    portal must fail fast into the hermetic path, not hang ingest."""
    import functools

    tx = transport or functools.partial(_urllib_transport, timeout=timeout)
    try:
        tx(f"{endpoint}/status", None, {})
        return True
    except Exception:
        return False


def default_fetcher(
    endpoint: str = "https://api.gdc.cancer.gov",
    transport: Transport | None = None,
) -> FetchFn:
    """Live fetcher when the portal answers, hermetic simulator when it
    does not (the simulator keeps the whole dataflow testable without
    network access)."""
    if gdc_portal_reachable(endpoint, transport=transport):
        return gdc_http_fetcher(endpoint, transport=transport)
    return simulated_gdc_fetcher()


def fetch_chunked(
    manifest: DataFrame,
    fetch_fn: FetchFn,
    files_per_chunk: int = 75,
) -> DataFrame:
    """Distributed chunked fetch: assign each manifest row (one case
    barcode) to a chunk and run ``fetch_fn`` once per CHUNK GROUP via
    ``applyInPandas`` — the executor-side GDCdownload.

    ``files_per_chunk`` bounds per-request size exactly like the
    reference's ``files.per.chunk = 75``; the number of chunks is
    ``ceil(n_cases / files_per_chunk)`` with hash membership
    (deterministic, order-free). Grouped-map (not ``repartition`` +
    ``mapInPandas``) is what actually enforces the bound: repartition
    HASH-partitions chunk ids, so two chunks can collide into one
    partition and hand ``fetch_fn`` a 2x-over-bound barcode list —
    ``groupBy(_chunk)`` guarantees one kernel call per chunk whatever
    the physical partitioning. (Expected chunk size is
    ``files_per_chunk`` with binomial spread from hash membership; a
    request API with a HARD cap should slice inside ``fetch_fn``.)
    """
    n_cases = manifest.count()
    n_chunks = max(1, math.ceil(n_cases / files_per_chunk))

    chunked = manifest.select(
        F.col("barcode").cast("string").alias("barcode"),
        F.pmod(F.xxhash64("barcode"), F.lit(n_chunks)).cast("int").alias("_chunk"),
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return fetch_fn(pdf["barcode"].tolist())

    return chunked.groupBy("_chunk").applyInPandas(fn, FETCHED_SCHEMA)


def normalize_star(fetched: DataFrame) -> dict[str, DataFrame]:
    """Fetched long records → the §1.4 star schema (GDCprepare minus
    the dense matrix): ``expression`` fact (gene_id, barcode, count),
    ``samples`` dim (one row per barcode, clinical + derived
    submitter_id — F4 participant prefix), ``genes`` dim (gene_id,
    gene_name). Dims deduplicate with one aggregation each; the fact
    is a pure projection of the fetch output."""
    expression = fetched.select("gene_id", "barcode", "count", "project")
    samples = (
        fetched.groupBy("barcode")
        .agg(
            F.first("project").alias("project"),
            F.first("short_letter_code").alias("short_letter_code"),
            F.first("vital_status").alias("vital_status"),
            F.first("days_to_death").alias("days_to_death"),
            F.first("paper_days_to_last_followup").alias(
                "paper_days_to_last_followup"
            ),
        )
        .withColumn("submitter_id", F.substring("barcode", 1, 12))
    )
    genes = fetched.select("gene_id", "gene_name").distinct()
    return {"expression": expression, "samples": samples, "genes": genes}


def write_star(
    tables: dict[str, DataFrame],
    base_dir: str,
    expression_table: str = "ingest_expression",
    n_buckets: int = 32,
) -> None:
    """Persist the star schema in its query-path layout:

    - ``samples`` → hive-partitioned by (project, short_letter_code):
      the reference's GDCquery predicates (project, sample.type) become
      partition-pruning directory filters — a cohort read opens one
      project's one-code directory, never the corpus;
    - ``genes`` → single parquet (broadcast-sized dim);
    - ``expression`` → bucketed by gene_id (catalog table): every
      per-gene join/groupBy downstream co-partitions and elides its
      Exchange.
    """
    tables["samples"].write.mode("overwrite").partitionBy(
        "project", "short_letter_code"
    ).parquet(f"{base_dir}/samples")
    tables["genes"].coalesce(1).write.mode("overwrite").parquet(
        f"{base_dir}/genes"
    )
    write_bucketed(
        tables["expression"].drop("project"),
        expression_table,
        ["gene_id"],
        n_buckets=n_buckets,
    )


def ingest_gdc_star(
    spark: SparkSession,
    barcodes: list[str],
    base_dir: str,
    fetch_fn: FetchFn | None = None,
    files_per_chunk: int = 75,
    expression_table: str = "ingest_expression",
    n_buckets: int = 32,
) -> dict[str, DataFrame]:
    """End-to-end S4 ingest: manifest → chunked executor-side fetch →
    star-schema normalize → layout-aware write. Returns the written
    tables re-read from their final layout (so callers immediately get
    the partition-pruned / bucketed plans)."""
    manifest = spark.createDataFrame(
        [(b,) for b in barcodes], "barcode string"
    )
    fetched = fetch_chunked(
        manifest, fetch_fn or simulated_gdc_fetcher(), files_per_chunk
    )
    write_star(
        normalize_star(fetched), base_dir, expression_table, n_buckets
    )
    return {
        "samples": spark.read.parquet(f"{base_dir}/samples"),
        "genes": spark.read.parquet(f"{base_dir}/genes"),
        "expression": spark.table(expression_table),
    }

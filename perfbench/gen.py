"""Seeded input generators for the benchmark workloads.

Each generator writes plain parquet files (pyarrow, no Spark)
into a directory under the checkout's ``.bench_build`` and is
deterministic in its arguments: the same seed and size give the same
bytes. :func:`cached` memoizes a finished directory on disk, so a
repeated seed skips generation.

- :func:`tcga_star` — a TCGA-shaped star schema (``genes``, ``samples``
  with vital status, NT/TP letter codes and nested drug treatments,
  long ``expression`` counts drawn negative-binomially).
- :func:`native_corpus` — ``documents`` and ``embeddings`` with the
  distributions of the repo's native corpus generator (Heaps/Zipf
  vocabulary, planted near-duplicates, clustered vectors), seeded.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GOI = ["ATAT1", "HDAC6", "SIRT2", "TP53", "ESR1", "ERBB2"]
DRUG_CLASSES = {
    "Taxane": ["Paclitaxel", "Docetaxel"],
    "Anthracycline": ["Doxorubicin", "Epirubicin"],
}


def cached(root: str, key: str, make) -> tuple[str, dict]:
    """Return ``(dir, info)`` for ``root/key``, running ``make(dir)``
    (which returns the info dict of sizes and row counts) only when no
    finished copy exists. Written to a temporary name and renamed, so
    an interrupted generation is never mistaken for a finished one."""
    out = os.path.join(root, key)
    info_path = os.path.join(out, "info.json")
    if os.path.exists(info_path):
        with open(info_path) as f:
            return out, json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = make(tmp)
    info["bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(tmp)
        for f in fs
    )
    with open(os.path.join(tmp, "info.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, info


# ---------------------------------------------------------------- TCGA


def _barcode(i: int) -> str:
    # first 12 characters are the participant id
    return f"TCGA-AB-{1000 + i:04d}-01A-11R-A{i % 1000:03d}Z-07"


def tcga_star(out: str, seed: int, n_genes: int, n_samples: int) -> dict:
    rng = np.random.default_rng(seed)
    gene_ids = [f"ENSG{g:08d}" for g in range(n_genes)]
    names = GOI + [f"GENE{g}" for g in range(len(GOI), n_genes)]
    pq.write_table(
        pa.table({"gene_id": gene_ids, "gene_name": names}),
        os.path.join(out, "genes.parquet"),
    )

    barcodes = [_barcode(i) for i in range(n_samples)]
    normal = rng.random(n_samples) < 0.2
    vital = rng.choice(["Alive", "Dead", None], size=n_samples, p=[0.55, 0.42, 0.03])
    death = rng.integers(50, 3000, n_samples)
    follow = rng.integers(100, 4000, n_samples)
    has_follow = rng.random(n_samples) > 0.05
    stages = np.array(["Stage IA", "Stage IIA", "Stage IIB", "Stage III", "Stage X"])
    treatments = []
    classes = list(DRUG_CLASSES)
    for i in range(n_samples):
        part = barcodes[i][:12]
        rows = []
        for t in range(int(rng.integers(0, 4))):
            cls = classes[int(rng.integers(0, len(classes)))]
            agent = DRUG_CLASSES[cls][int(rng.integers(0, 2))]
            kind = rng.random()
            ttype, tagent = (
                (cls, "Unknown") if kind < 0.3
                else ("Chemotherapy", agent) if kind < 0.7
                else ("Radiation", "None")
            )
            rows.append({"submitter_id": f"{part}-T{t}",
                         "treatment_type": ttype,
                         "therapeutic_agents": tagent})
        treatments.append(rows)
    samples = pa.table(
        {
            "barcode": barcodes,
            "submitter_id": [b[:12] for b in barcodes],
            "short_letter_code": np.where(normal, "NT", "TP").tolist(),
            "vital_status": vital.tolist(),
            "days_to_death": [
                str(int(d)) if v == "Dead" else None for d, v in zip(death, vital)
            ],
            "paper_days_to_last_followup": [
                str(int(f)) if h else None for f, h in zip(follow, has_follow)
            ],
            "ajcc_pathologic_stage": stages[rng.integers(0, len(stages), n_samples)].tolist(),
            "paper_brca_subtype_pam50": rng.choice(["Basal", "Her2", "LumA", "LumB"], n_samples).tolist(),
            "sample_type": np.where(normal, "Solid Tissue Normal", "Primary Tumor").tolist(),
            "treatments": pa.array(
                treatments,
                pa.list_(pa.struct([("submitter_id", pa.string()),
                                    ("treatment_type", pa.string()),
                                    ("therapeutic_agents", pa.string())])),
            ),
        }
    )
    pq.write_table(samples, os.path.join(out, "samples.parquet"))

    # NB counts by gamma-Poisson: lognormal gene means, a tail of genes
    # below the count floor, per-sample depth, and a DE effect on a
    # tenth of the genes (tumor vs normal)
    base = np.exp(rng.normal(np.log(60.0), 1.2, n_genes))
    base[rng.random(n_genes) < 0.06] = 0.02
    fold = np.where(rng.random(n_genes) < 0.1, np.exp(rng.normal(0, 1.0, n_genes)), 1.0)
    depth = rng.uniform(0.5, 2.0, n_samples)
    mu = base[:, None] * depth[None, :] * np.where(normal[None, :], 1.0, fold[:, None])
    disp = 0.1
    lam = rng.gamma(1.0 / disp, mu * disp)
    counts = rng.poisson(lam).astype(np.int64)
    pq.write_table(
        pa.table(
            {
                "gene_id": pa.array(np.repeat(gene_ids, n_samples)),
                "barcode": pa.array(np.tile(barcodes, n_genes)),
                "count": pa.array(counts.ravel()),
            }
        ),
        os.path.join(out, "expression.parquet"),
        row_group_size=1 << 16,
    )
    return {"genes": n_genes, "samples": n_samples, "expression_rows": n_genes * n_samples}


# -------------------------------------------------------------- corpus

FUNC_WORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "fr": ("le", "la", "et", "les", "des", "un", "une"),
    "de": ("der", "und", "die", "das", "ein", "nicht"),
    "es": ("el", "los", "y", "las", "un", "no"),
    "zh": ("wo", "ni", "ta", "shi", "bu", "zai"),
}
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DUP_FRAC = 0.06  # planted near-duplicate share of documents and of vectors


def _zipf(v: int, q: float = 2.7, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, v + 1) + q, s)
    return p / p.sum()


def _draw(rng: np.random.Generator, probs: np.ndarray, n: int) -> np.ndarray:
    return np.searchsorted(np.cumsum(probs), rng.random(n), side="right")


def native_corpus(out: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    rng = np.random.default_rng(seed)
    n_dup = int(round(DUP_FRAC * n_docs))
    n_base = n_docs - n_dup
    lens = np.clip(rng.lognormal(np.log(40.0), 0.6, n_base), 6, 400).astype(np.int64)
    total = int(lens.sum())
    vocab = max(200, int(28.0 * np.sqrt(total)))  # Heaps' law
    content = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    zipf = _zipf(vocab)
    lang_idx = _draw(rng, np.array(LANG_P), n_base)
    width = max(len(w) for w in FUNC_WORDS.values())
    func = np.array(
        [[FUNC_WORDS[lang][j % len(FUNC_WORDS[lang])] for j in range(width)] for lang in LANGS],
        dtype=object,
    )
    tok_lang = lang_idx[np.repeat(np.arange(n_base), lens)]
    flat = content[_draw(rng, zipf, total)]
    is_func = rng.random(total) < 0.35
    func_rank = _draw(rng, _zipf(width, q=1.0, s=1.0), total)
    flat[is_func] = func[tok_lang[is_func], func_rank[is_func]]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    docs = [flat[bounds[i]:bounds[i + 1]].tolist() for i in range(n_base)]
    # planted near-duplicates: 8% token substitutions of an earlier doc
    dup_src = rng.integers(0, n_base, n_dup)
    for s in dup_src:
        toks = list(docs[int(s)])
        mut = np.flatnonzero(rng.random(len(toks)) < 0.08)
        for i, r in zip(mut, _draw(rng, zipf, len(mut))):
            toks[i] = content[r]
        if rng.random() < 0.15 and len(toks) > 8:
            toks = toks[: int(len(toks) * 0.9)]
        docs.append(toks)
    texts = [" ".join(d) for d in docs]
    langs = np.array(LANGS, dtype=object)[np.concatenate([lang_idx, lang_idx[dup_src]])]
    sources = np.array([f"src{i}" for i in range(20)], dtype=object)[
        _draw(rng, _zipf(20, q=1.5, s=1.0), n_docs)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(rng.permutation(n_docs).astype(np.int64)),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs.tolist(), pa.string()),
                "source": pa.array(sources.tolist(), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out, "documents.parquet"),
        row_group_size=2048,
    )

    # clustered unit-ish vectors, intra-cluster cosine ~0.2, plus planted
    # perturbations of earlier vectors (cosine ~0.99)
    dim, k = 64, 10
    v_dup = int(round(DUP_FRAC * n_vecs))
    v_base = n_vecs - v_dup
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = _draw(rng, _zipf(k, q=1.0, s=1.0), v_base)
    x = centers[label] + rng.standard_normal((v_base, dim)) * 0.25
    src = rng.integers(0, v_base, v_dup)
    x = np.concatenate([x, x[src] + rng.standard_normal((v_dup, dim)) * 0.02])
    label = np.concatenate([label, label[src]])
    perm = rng.permutation(n_vecs)
    x, label = x[perm], label[perm]
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(x.astype(np.float32).ravel(), pa.float32()), dim
    ).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
                "embedding": emb,
                "label": pa.array(label.astype(np.int32)),
            }
        ),
        os.path.join(out, "embeddings.parquet"),
        row_group_size=2048,
    )
    return {"documents": n_docs, "embeddings": n_vecs, "vocab": vocab,
            "planted_dup_docs": n_dup}

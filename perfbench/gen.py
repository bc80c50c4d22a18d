"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed and
sizes write byte-identical files. The engine only ever sees the files.

- :func:`cms_inputs` writes the five CMS-shaped CSVs the claims pipeline
  reads (``ben``, ``ip``, ``pde``, ``dx``, ``pcs``), with the dirty rows
  the reference tolerates (empty or garbage claim dates, quoted/dotted
  crosswalk codes, unknown codes).
- :func:`corpus` writes a ``documents`` parquet table of base documents
  plus near-duplicate copies made by token edits.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

YEARS = (2008, 2009, 2010)
N_DGNS, N_PRCDR = 10, 6


def _exact(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly ``round(share * n)`` True entries at
    random positions, so sizes do not drift with the seed."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[: round(share * n)]] = True
    return mask


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def cms_inputs(
    root: str,
    seed: int,
    patients: int,
    claims_per_year: int,
    dx_codes: int,
    pcs_codes: int,
    dx_vocab: int,
    pcs_vocab: int,
) -> dict[str, int]:
    """Write ben/ip/pde/dx/pcs CSVs under ``root``; return row counts.

    Shapes follow the reference's inputs: exactly 60% of patients are in
    the arthritis cohort and 70% have claims in all three study years
    (the rest miss one and fail enrollment), each
    present year has 1..``2*claims_per_year-1`` claims, 4% of claims
    carry a surgery DRG (469/470), 2% have an unparseable date, and code
    columns mix crosswalk codes, unknown codes and blanks. The crosswalks
    map ``dx_codes``/``pcs_codes`` raw codes onto ``dx_vocab``/
    ``pcs_vocab`` CCS categories.
    """
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)

    def raw_code(c: str, i: int) -> str:
        return (f"'{c}.0'", f"' {c} '", c)[i % 3]  # quoted+dotted, padded, clean

    dx_names = [f"D{i:04d}" for i in range(dx_codes)]
    pcs_names = [f"Q{i:04d}" for i in range(pcs_codes)]
    pd.DataFrame({
        "'ICD-9-CM CODE'": [raw_code(c, i) for i, c in enumerate(dx_names)],
        "'CCS CATEGORY'": [f"'{100 + i % dx_vocab}'" for i in range(dx_codes)],
    }).to_csv(f"{root}/dx.csv", index=False)
    pd.DataFrame({
        "'ICD-9-CM CODE'": [raw_code(c, i) for i, c in enumerate(pcs_names)],
        "'CCS CATEGORY'": [str(1000 + i % pcs_vocab) for i in range(pcs_codes)],
    }).to_csv(f"{root}/pcs.csv", index=False)

    pids = np.array([f"P{i:07d}" for i in range(patients)])
    birth = (
        rng.integers(1920, 1981, patients) * 10000
        + rng.integers(1, 13, patients) * 100
        + rng.integers(1, 29, patients)
    ).astype(str)
    birth[rng.random(patients) < 0.01] = ""
    pd.DataFrame({
        "DESYNPUF_ID": pids,
        "SP_RA_OA": np.where(_exact(rng, patients, 0.6), 1, 2),
        "BENE_BIRTH_DT": birth,
        "BENE_SEX_IDENT_CD": rng.integers(1, 3, patients),
    }).to_csv(f"{root}/ben.csv", index=False)

    # claims: per (patient, year) a count, zero for the year a partial
    # patient misses
    counts = rng.integers(1, 2 * claims_per_year, (patients, len(YEARS)))
    partial = ~_exact(rng, patients, 0.7)
    counts[partial, rng.integers(0, len(YEARS), partial.sum())] = 0
    flat = counts.ravel()
    n = int(flat.sum())
    pat = np.repeat(np.repeat(np.arange(patients), len(YEARS)), flat)
    year = np.repeat(np.tile(np.array(YEARS), patients), flat)
    date = (year * 10000 + rng.integers(1, 13, n) * 100 + rng.integers(1, 29, n)).astype(str)
    bad = rng.random(n)
    date[bad < 0.01] = ""
    date[(bad >= 0.01) & (bad < 0.02)] = "N/A"
    drg = rng.integers(100, 468, n).astype(str)
    surg = rng.random(n) < 0.04
    drg[surg] = np.where(rng.random(int(surg.sum())) < 0.5, "469", "470")

    def code_block(names: list[str], width: int, p_known: float, p_unknown: float, tag: str):
        u = rng.random((n, width))
        known = np.array(names)[rng.integers(0, len(names), (n, width))]
        unknown = np.char.add(tag, rng.integers(0, 99, (n, width)).astype(str))
        return np.where(u < p_known, known, np.where(u < p_known + p_unknown, unknown, ""))

    dg = code_block(dx_names, N_DGNS, 0.4, 0.12, "UNK")
    pr = code_block(pcs_names, N_PRCDR, 0.25, 0.075, "UNKP")
    ip = pd.DataFrame({
        "DESYNPUF_ID": pids[pat],
        "CLM_ID": [f"C{i:08d}" for i in range(n)],
        "CLM_FROM_DT": date,
        "CLM_DRG_CD": drg,
        **{f"ICD9_DGNS_CD_{i + 1}": dg[:, i] for i in range(N_DGNS)},
        **{f"ICD9_PRCDR_CD_{i + 1}": pr[:, i] for i in range(N_PRCDR)},
    })
    ip.to_csv(f"{root}/ip.csv", index=False)

    n_pde = patients // 2
    pd.DataFrame({
        "DESYNPUF_ID": pids[rng.integers(0, patients, n_pde)],
        "PROD_SRVC_ID": [f"N{i:09d}" for i in range(n_pde)],
    }).to_csv(f"{root}/pde.csv", index=False)
    return {"patients": patients, "claims": n, "dx_codes": dx_codes, "pcs_codes": pcs_codes}


_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct pronounceable lowercase words."""
    cons, vow = list("bcdfghklmnprstvz"), list("aeiou")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(
            rng.choice(cons) + rng.choice(vow) for _ in range(int(rng.integers(2, 4)))
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def _documents_table(
    rng: np.random.Generator,
    base_docs: int,
    dup_frac: float,
    copies: int,
    edit_rate: float,
    vocab: int = 400,
    short_frac: float = 0.05,
) -> pa.Table:
    words = _words(rng, vocab)
    short, dup = _exact(rng, base_docs, short_frac), _exact(rng, base_docs, dup_frac)
    texts: list[str] = []
    for i in range(base_docs):
        lo, hi = (3, 10) if short[i] else (30, 90)
        toks = words[rng.integers(0, vocab, int(rng.integers(lo, hi)))]
        texts.append(" ".join(toks))
        if dup[i]:
            for _ in range(copies):
                t = toks.copy()
                edit = rng.random(len(t)) < edit_rate
                t[edit] = words[rng.integers(0, vocab, int(edit.sum()))]
                texts.append(" ".join(t))
    order = rng.permutation(len(texts))  # copies are not adjacent to their base
    texts = [texts[i] for i in order]
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus(
    root: str, seed: int, base_docs: int, dup_frac: float, copies: int, edit_rate: float
) -> dict[str, float]:
    """Write ``documents.parquet`` under ``root``: ``base_docs`` random
    documents (exactly 5% too short for the curation eligibility
    filter); exactly a ``dup_frac`` share of them get ``copies``
    near-duplicates, each with
    every token replaced with probability ``edit_rate``. Returns sizes
    and the near-duplicate share (copies / all documents)."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    t = _documents_table(rng, base_docs, dup_frac, copies, edit_rate)
    _write_parquet(t, f"{root}/documents.parquet")
    return {"docs": t.num_rows, "near_dup_share": round(1 - base_docs / t.num_rows, 4)}

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
writes plain files (PLINK text, TSV, parquet) that the program then
reads through its own entry points; nothing generated here is handed to
the program in memory. All generation runs in the calling process.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The simulation ground truth of the reference (FIXTURES.md §2): the last
# two SNPs carry odds ratios 3 and 5, every other SNP has OR 1.
PLANTED_SNPS = ("rs7412_T", "rs429358_C")
PLANTED_ORS = (3.0, 5.0)
PLANTED_MAFS = (0.3, 0.35)

# English stopwords the corpus quality gate counts (functions/text.py)
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]


# ------------------------------------------------------------------ PLINK


@dataclass
class SnpInputs:
    raw_path: str
    covars_path: str
    ids_path: str
    snps_path: str
    train_snps_path: str
    n_rows: int
    n_snps: int
    snp_names: list[str]
    subset_ids: list[str]
    subset_snps: list[str]
    train_snps: list[str]
    genotypes: np.ndarray  # n_rows × n_snps dosages, row i is IID S<i>


def gen_snp_inputs(
    out_dir: str, seed: int, n_rows: int, n_snps: int, n_train_snps: int
) -> SnpInputs:
    """PLINK ``.raw`` dosages with a planted signal on the last two SNPs,
    a 3-covariate TSV (2 × N(0, 0.1) + 1 Bernoulli, as the reference's
    simulation), a row-ID list plus a SNP list for the subset step, and
    the ``n_train_snps`` full SNP names (both planted ones included) the
    model is trained on.

    Phenotype model: logit P(case) = b0 + Σ log(OR_j)·g_j over the two
    planted SNPs, with b0 chosen so roughly half the rows are cases.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    maf = rng.uniform(0.05, 0.5, size=n_snps)
    # common planted alleles keep the signal visible on a few hundred
    # test rows (true-logit AUC ≈ 0.78) whatever the seed
    maf[-2:] = PLANTED_MAFS
    geno = rng.binomial(2, maf, size=(n_rows, n_snps)).astype(np.int8)
    g_sig = geno[:, -2:].astype(np.float64)
    logit = g_sig @ np.log(PLANTED_ORS)
    logit -= np.median(logit)
    case = rng.random(n_rows) < 1.0 / (1.0 + np.exp(-logit))
    pheno = np.where(case, 2, 1)
    sex = rng.integers(1, 3, size=n_rows)

    ids = [f"S{i:07d}" for i in range(n_rows)]
    # distinct rs ids; the planted pair keeps its reference names
    rs = rng.choice(np.arange(1_000, 9_000_000), size=n_snps, replace=False)
    alleles = rng.choice(list("ACGT"), size=n_snps)
    names = [f"rs{r}_{a}" for r, a in zip(rs, alleles)]
    names[-2:] = PLANTED_SNPS

    raw_path = os.path.join(out_dir, "genotypes.raw")
    digits = geno.astype(np.uint8) + ord("0")
    with open(raw_path, "w") as f:
        f.write(" ".join(["FID", "IID", "PAT", "MAT", "SEX", "PHENOTYPE", *names]) + "\n")
        for i in range(n_rows):
            head = f"{ids[i]} {ids[i]} 0 0 {sex[i]} {pheno[i]} "
            # one dosage digit per SNP, space separated
            row = np.empty(2 * n_snps - 1, dtype=np.uint8)
            row[0::2] = digits[i]
            row[1::2] = ord(" ")
            f.write(head + row.tobytes().decode() + "\n")

    covars = pd.DataFrame(
        {
            "FID": ids,
            "IID": ids,
            "COV1": rng.normal(0, 0.1, n_rows),
            "COV2": rng.normal(0, 0.1, n_rows),
            "COV3": rng.integers(0, 2, n_rows).astype(float),
        }
    )
    covars_path = os.path.join(out_dir, "covars.tsv")
    covars.to_csv(covars_path, sep="\t", index=False)

    subset_ids = sorted(rng.choice(ids, size=n_rows // 2, replace=False).tolist())
    ids_path = os.path.join(out_dir, "subset_ids.txt")
    with open(ids_path, "w") as f:
        f.write("\n".join(subset_ids) + "\n")
    # the SNP list names prefixes only (rs<id>), as subset_columns matches
    pick = sorted(rng.choice(n_snps, size=max(2, n_snps // 10), replace=False).tolist())
    subset_snps = [names[j] for j in pick]
    snps_path = os.path.join(out_dir, "subset_snps.txt")
    with open(snps_path, "w") as f:
        f.write("\n".join(n.split("_")[0] for n in subset_snps) + "\n")
    pick = rng.choice(n_snps - 2, size=n_train_snps - 2, replace=False)
    train_snps = [names[j] for j in sorted(pick.tolist())] + list(PLANTED_SNPS)
    train_snps_path = os.path.join(out_dir, "train_snps.txt")
    with open(train_snps_path, "w") as f:
        f.write("\n".join(train_snps) + "\n")

    return SnpInputs(
        raw_path=raw_path,
        covars_path=covars_path,
        ids_path=ids_path,
        snps_path=snps_path,
        train_snps_path=train_snps_path,
        n_rows=n_rows,
        n_snps=n_snps,
        snp_names=names,
        subset_ids=subset_ids,
        subset_snps=subset_snps,
        train_snps=train_snps,
        genotypes=geno,
    )


# ---------------------------------------------------------- star schema


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def gen_relational_tables(out_dir: str, seed: int, scale: float) -> None:
    """The eight star-schema/event tables with the value domains the
    registered relational specs filter on (region names, NATION_i,
    market segments, order priorities, return flags, 1995-2001 dates,
    a January-2024 event stream). ``scale`` = 1.0 gives 6,000,000
    lineitems; columns are drawn independently and uniformly."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_li = max(800, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(20, int(15_000 * scale))

    _write(
        pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        f"{out_dir}/region.parquet",
    )
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    cents = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": cents(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": cents(-999.99, 9999.99, n_supp),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    adj = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    _write(
        pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        f"{out_dir}/part.parquet",
    )
    day0 = np.datetime64("1995-01-01", "us")
    day_us = np.int64(86_400_000_000)
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": cents(1000.0, 500000.0, n_ord),
                "o_orderdate": day0 + rng.integers(0, 2400, n_ord) * day_us,
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": day0 + rng.integers(1, 2500, n_li) * day_us,
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": ev_ts,
                "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
                "value": np.round(rng.exponential(25.0, n_ev) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        f"{out_dir}/events.parquet",
    )


# ----------------------------------------------------------------- corpus


def _vocab(rng: np.random.Generator, n_words: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, size=k)))
    return sorted(words - set(EN_STOPWORDS))


# planted corpus structure, as shares of the originals / of all tokens
NEAR_DUP_FRAC, EXACT_DUP_FRAC, JUNK_FRAC = 0.15, 0.05, 0.05
STOPWORD_SHARE = 0.3


def gen_corpus(out_dir: str, seed: int, n_originals: int, relational_scale: float) -> None:
    """Document corpus plus the other nine catalog tables (at
    ``relational_scale``), which ``catalog.load_tables`` opens on every call.

    Tokens follow a Zipf(1.1) law over a 20k-word vocabulary, with
    ``STOPWORD_SHARE`` of the tokens drawn from the English stopwords the
    quality gate counts. Planted structure:
      - near-dup clusters: a copy of an original with 1-3 tokens replaced
        (high 3-shingle Jaccard, different fingerprint);
      - exact dups: an original re-cased with doubled spaces (same
        normalized fingerprint);
      - junk: stopword-free token salad the quality gate drops.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng, 20_000)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks**-1.1
    p /= p.sum()

    def doc(n_tok: int) -> list[str]:
        content = rng.choice(len(vocab), size=n_tok, p=p)
        words = [vocab[i] for i in content]
        stop = rng.random(n_tok) < STOPWORD_SHARE
        for j in np.flatnonzero(stop):
            words[j] = EN_STOPWORDS[int(rng.integers(0, len(EN_STOPWORDS)))]
        return words

    texts: list[str] = []
    for _ in range(n_originals):
        texts.append(" ".join(doc(int(rng.integers(30, 120)))))
    n_near = int(n_originals * NEAR_DUP_FRAC)
    n_exact = int(n_originals * EXACT_DUP_FRAC)
    n_junk = int(n_originals * JUNK_FRAC)
    for _ in range(n_near):
        words = texts[int(rng.integers(0, n_originals))].split(" ")
        for j in rng.choice(len(words), size=int(rng.integers(1, 4)), replace=False):
            words[j] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(words))
    for _ in range(n_exact):
        src = texts[int(rng.integers(0, n_originals))]
        texts.append(src.upper().replace(" ", "  ", 3))
    for _ in range(n_junk):
        texts.append(" ".join(vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(20, 60)))))

    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    n = len(texts)
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _write(
        pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "text": texts,
                "lang": langs[rng.integers(0, 5, n)],
                "source": [f"src{s}" for s in rng.integers(0, 20, n)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    n_vec = 500
    emb = rng.normal(0, 0.1, (n_vec, 64)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    gen_relational_tables(out_dir, seed, relational_scale)


def gen_query_tables(out_dir: str, seed: int, scale: float) -> None:
    """All ten catalog tables for the query mix: the star-schema and event
    tables at ``scale`` and a 250-document corpus for its near-dup specs
    and corpus build."""
    gen_corpus(out_dir, seed, n_originals=200, relational_scale=scale)

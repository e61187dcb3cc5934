"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (shape, size, seed): the same
arguments write byte-identical files. Outputs are cached under
``perfbench/.cache/<shape>-<sites>-<seed>/`` so a repeated run skips the
generation; the cache is never inside the timed region.

The VCF writers frame BGZF blocks with this module's own ``zlib`` code (not
the library's ``write_bgzf``), so a library change can never change the
inputs. Each VCF generator also returns the expected outputs of its
workload, computed from the genotype matrix it wrote — never from the
library under test.

Shapes:
  * ``panel`` — 1000 Genomes chr22-shaped (FIXTURES.md section 1): GT-only,
    phased, 2,504 samples, about 3% non-ref calls, about 3% multiallelic
    sites, snp/ins/del site mix.
  * ``rich`` — Wellderly-shaped (FIXTURES.md section 2): 209 samples,
    unphased, mostly ``GT:FT:GQ:HQ:DP:AD`` rows with some GT-only rows,
    about 8% missing calls, ``chr``-prefixed and bare CHROM names, indels
    and multiallelic sites, a few ``ALT='.'`` rows.
  * ``catalog`` — the ten TPC-H-ish/events/documents/embeddings tables the
    catalog queries read, at the sf0.001 row counts of TESTDATA.md. The
    tables do not depend on the seed (as the fixed TESTDATA tables do
    not), so the DuckDB oracle answers are computed once.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

#: sites per workload size; samples per site are fixed by the shape.
PANEL_SITES = {"bench": 600, "smoke": 40}
RICH_SITES = {"bench": 1000, "smoke": 40}
PANEL_SAMPLES = 2504
RICH_SAMPLES = 209
#: catalog row counts per size (sf0.001 of TESTDATA.md for "bench")
CATALOG_ROWS = {
    "bench": dict(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=1000, documents=500, embeddings=500),
    "smoke": dict(customer=50, supplier=5, part=50, orders=300,
                  lineitem=1200, events=300, documents=60, embeddings=60),
}
CATALOG_SEED = 42

# --- BGZF framing (own implementation; see module docstring) -------------

_BGZF_MAX_IN = 0xFF00  # htslib's per-block input size
_BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)


def _bgzf_block(raw: bytes, level: int) -> bytes:
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    cdata = co.compress(raw) + co.flush()
    bsize = 18 + len(cdata) + 8
    header = struct.pack(
        "<4BIBBHBBHH", 31, 139, 8, 4, 0, 0, 255, 6, 66, 67, 2, bsize - 1
    )
    return header + cdata + struct.pack("<II", zlib.crc32(raw), len(raw))


def write_bgzf_file(path: str, data: bytes, level: int = 6) -> int:
    """Write `data` as BGZF (<= 0xFF00 input bytes per member, EOF marker);
    returns the compressed size."""
    with open(path, "wb") as fh:
        for i in range(0, len(data), _BGZF_MAX_IN):
            fh.write(_bgzf_block(data[i:i + _BGZF_MAX_IN], level))
        fh.write(_BGZF_EOF)
    return os.path.getsize(path)


# --- shared VCF pieces ----------------------------------------------------

_BASES = np.array(list("ACGT"))


def _site_alleles(rng, n_sites, multi_frac, del_frac, ins_frac):
    """REF/ALT strings per site and the variant type of each ALT allele.

    Biallelic sites are snp, del (REF = base + 1-3 bases, ALT = first base)
    or ins (ALT = REF + 1-3 bases); multiallelic sites carry two ALTs, a snp
    and either a second snp or an insertion (FIXTURES.md's "G,T" / "G,TT").
    """
    ref_base = rng.integers(0, 4, size=n_sites)
    kind = _shuffled_grid(rng, n_sites)
    extra_len = rng.integers(1, 4, size=n_sites)
    refs, alts, types = [], [], []
    for i in range(n_sites):
        r = _BASES[ref_base[i]]
        alt1 = _BASES[(ref_base[i] + 1 + i % 3) % 4]
        tail = "".join(_BASES[rng.integers(0, 4, size=extra_len[i])])
        if kind[i] < multi_frac:
            alt2 = _BASES[(ref_base[i] + 1 + (i + 1) % 3) % 4]
            if i % 3:
                site = r, [alt1, alt2], ["snp", "snp"]
            else:
                site = r, [alt1, r + tail], ["snp", "ins"]
        elif kind[i] < multi_frac + del_frac:
            site = r + tail, [r], ["del"]
        elif kind[i] < multi_frac + del_frac + ins_frac:
            site = r, [r + tail], ["ins"]
        else:
            site = r, [alt1], ["snp"]
        refs.append(site[0])
        alts.append(site[1])
        types.append(site[2])
    return refs, alts, types


def _shuffled_grid(rng, n):
    """n evenly spaced values in (0, 1) in seeded order: thresholding it
    gives every seed the same count of each site class."""
    return rng.permutation((np.arange(n) + 0.5) / n)


def _allele_matrix(rng, n_sites, n_samples, alts, af_a, af_b):
    """(sites, samples, 2) allele indices. Allele frequencies follow a
    Beta(af_a, af_b) spectrum (most sites rare, like a population panel).
    Each spectrum is drawn once per size, the same for every seed, and the
    seed deals it out to sites: seeds differ in genotypes, not in how much
    non-ref work they hold."""
    multi = np.array([len(a) > 1 for a in alts])
    fixed = np.random.default_rng(n_sites)
    af1 = rng.permutation(fixed.beta(af_a, af_b, size=n_sites))
    af2 = np.zeros(n_sites)
    af2[multi] = rng.permutation(fixed.beta(af_a, af_b, size=int(multi.sum())))
    u = rng.random((n_sites, n_samples, 2))
    a1 = af1[:, None, None]
    a2 = np.minimum(af1 + af2, 1.0)[:, None, None]
    return np.where(u < a1, 1, np.where(u < a2, 2, 0)).astype(np.uint8)


def _vcf_header(n_samples: int, prefix: str, format_lines: list[str]) -> str:
    meta = [
        "##fileformat=VCFv4.1",
        "##source=perfbench-seeded-generator",
        '##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">',
        '##INFO=<ID=AN,Number=1,Type=Integer,Description="Allele number">',
        *format_lines,
    ]
    cols = ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"]
    samples = [f"{prefix}{i:04d}" for i in range(1, n_samples + 1)]
    return "\n".join(meta + ["\t".join(cols + samples)]) + "\n"


# --- panel: 1000G-shaped, GT-only, phased ---------------------------------


def make_panel(out_dir: str, n_sites: int, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    n = PANEL_SAMPLES
    refs, alts, types = _site_alleles(rng, n_sites, 0.03, 0.045, 0.012)
    g = _allele_matrix(rng, n_sites, n, alts, 0.05, 3.0)
    # one 4-byte cell "a|b\t" per call: the body is a table lookup
    codes = g[:, :, 0] * 3 + g[:, :, 1]
    cells = np.frombuffer(
        b"".join(f"{a}|{b}\t".encode() for a in range(3) for b in range(3)),
        dtype=np.uint8,
    ).reshape(9, 4)
    body_cells = cells[codes]  # (sites, samples, 4)
    pos = 16_050_075 + np.cumsum(rng.integers(1, 400, size=n_sites))
    lines = []
    for i in range(n_sites):
        ac = int((g[i] > 0).sum())
        fixed = (f"22\t{pos[i]}\t.\t{refs[i]}\t{','.join(alts[i])}\t100\tPASS\t"
                 f"AC={ac};AN={2 * n}\tGT\t")
        lines.append(fixed.encode() + body_cells[i].tobytes()[:-1] + b"\n")
    header = _vcf_header(
        n, "HG", ['##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">']
    ).encode()
    raw = header + b"".join(lines)
    path = os.path.join(out_dir, "panel.vcf.gz")
    gz_bytes = write_bgzf_file(path, raw)

    # expected: annotate_vcf(drop_hom_ref=True) keeps every call that is not
    # 0|0; vartype2 classifies the SECOND allele against REF.
    keep = codes != 0
    second = g[:, :, 1]
    hist: dict[str, int] = {}
    for i in range(n_sites):
        kept_second = second[i][keep[i]]
        counts = np.bincount(kept_second, minlength=3)
        hist["ref"] = hist.get("ref", 0) + int(counts[0])
        for k, t in enumerate(types[i], start=1):
            hist[t] = hist.get(t, 0) + int(counts[k])
    return {
        "path": path,
        "sites": n_sites,
        "samples": n,
        "calls": n_sites * n,
        "raw_bytes": len(raw),
        "bgzf_bytes": gz_bytes,
        "multiallelic_sites": int(sum(len(a) > 1 for a in alts)),
        "expected": {
            "retained_calls": int(keep.sum()),
            "vartype2": {k: v for k, v in sorted(hist.items()) if v},
        },
    }


# --- rich: Wellderly-shaped, FORMAT-heavy, unphased -----------------------

RICH_FORMAT = "GT:FT:GQ:HQ:DP:AD"
RICH_FORMAT_IDS = RICH_FORMAT.split(":")


def make_rich(out_dir: str, n_sites: int, seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    n = RICH_SAMPLES
    refs, alts, _types = _site_alleles(rng, n_sites, 0.06, 0.08, 0.06)
    g = _allele_matrix(rng, n_sites, n, alts, 0.3, 2.0)
    dot_alt = _shuffled_grid(rng, n_sites) < 0.01  # rows the engine drops
    gt_only = _shuffled_grid(rng, n_sites) < 0.15
    # call state: 0 called, 1 './.' (missing GT), 2 bare '.', 3 half-missing
    state = rng.choice(4, size=(n_sites, n), p=[0.92, 0.06, 0.01, 0.01])
    g[dot_alt] = 0
    state[dot_alt] = 0
    half_first = rng.random((n_sites, n)) < 0.5
    pos = 179_392_051 + np.cumsum(rng.integers(1, 60, size=n_sites))
    chrom = np.where(rng.random(n_sites) < 0.3, "chr2", "2")
    ft = np.where(rng.random((n_sites, n)) < 0.9, "PASS", "LowQ")
    gq = rng.integers(3, 99, size=(n_sites, n))
    hq = rng.integers(3, 500, size=(n_sites, n, 2))
    dp = rng.integers(1, 120, size=(n_sites, n))
    ad0 = rng.integers(0, 60, size=(n_sites, n))
    ad1 = rng.integers(0, 60, size=(n_sites, n))

    lines = []
    for i in range(n_sites):
        fmt = "GT" if gt_only[i] else RICH_FORMAT
        calls = []
        for j in range(n):
            s = state[i, j]
            if s == 2:
                calls.append(".")
                continue
            if s == 1:
                gt = "./."
            elif s == 3:
                a = g[i, j, 0] or 1
                gt = f"./{a}" if half_first[i, j] else f"{a}/."
            else:
                gt = f"{g[i, j, 0]}/{g[i, j, 1]}"
            if gt_only[i]:
                calls.append(gt)
            elif s == 1:
                calls.append("./.:.:.:.,.:.:.,.")
            else:
                calls.append(
                    f"{gt}:{ft[i, j]}:{gq[i, j]}:{hq[i, j, 0]},{hq[i, j, 1]}:"
                    f"{dp[i, j]}:{ad0[i, j]},{ad1[i, j]}"
                )
        alt = "." if dot_alt[i] else ",".join(alts[i])
        lines.append(
            f"{chrom[i]}\t{pos[i]}\t.\t{refs[i]}\t{alt}\t.\t.\t.\t{fmt}\t"
            + "\t".join(calls)
            + "\n"
        )
    fmt_meta = [
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=FT,Number=1,Type=String,Description="Filter">',
        '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">',
        '##FORMAT=<ID=HQ,Number=2,Type=Integer,Description="Haplotype quality">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
        '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths">',
    ]
    raw = (_vcf_header(n, "S", fmt_meta) + "".join(lines)).encode()
    path = os.path.join(out_dir, "rich.vcf.gz")
    gz_bytes = write_bgzf_file(path, raw)

    # expected sample_qc: a call reaches the long table unless its row has
    # ALT='.', it is a bare '.', or its GT is './.'; it counts as called
    # unless one allele is missing.
    live = ~dot_alt[:, None]
    n_sites_per = ((state != 1) & (state != 2) & live).sum(axis=0)
    n_called = ((state == 0) & live).sum(axis=0)
    sample_ids = [f"S{i:04d}" for i in range(1, n + 1)]
    return {
        "path": path,
        "sites": n_sites,
        "samples": n,
        "calls": n_sites * n,
        "raw_bytes": len(raw),
        "bgzf_bytes": gz_bytes,
        "format_fields": [f for f in RICH_FORMAT_IDS if f != "GT"],
        "expected": {
            s: [int(a), int(b)] for s, a, b in zip(sample_ids, n_sites_per, n_called)
        },
    }


# --- catalog tables ------------------------------------------------------

_WORDS = (
    "the a of and to in is it for on with as data spark query table row "
    "column join filter merge sort hash scan window batch stream value key "
    "order part line customer vector small big fast slow group agg dup"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def make_catalog(out_dir: str, rows: dict) -> dict:
    """Write the catalog tables as parquet (schemas of TESTDATA.md)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(CATALOG_SEED)
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01T00:00:00", "us")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size=size), 2)

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = rows["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
        "c_acctbal": money(-999, 9999, nc),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = rows["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, size=ns).astype(np.int32),
        "s_acctbal": money(-999, 9999, ns),
    })
    npart = rows["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["cold", "small", "large", "blue", "red"], npart),
            rng.choice(["widget", "bolt", "rod", "gear"], npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=npart)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE", "MEDIUM"], npart),
        "p_size": rng.integers(1, 51, size=npart).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(npart) % 200 * 0.1, 2),
    })
    no = rows["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, size=no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": t0 + rng.integers(0, 2400, size=no) * day,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = rows["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, size=nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, size=nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, size=nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
        "l_extendedprice": money(900, 100000, nl),
        "l_discount": rng.integers(0, 11, size=nl) / 100.0,
        "l_tax": rng.integers(0, 9, size=nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": t0 + rng.integers(0, 2400, size=nl) * day,
    })
    ne = rows["events"]
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, size=ne).astype("timedelta64[us]")
    )
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(15, ne // 66), size=ne).astype(np.int64),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], ne),
        "value": money(0, 200, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne)],
    })
    nd = rows["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and i % 50 == 0:
            texts.append(texts[i - 7])  # planted exact duplicates
            continue
        words = rng.choice(_WORDS, size=int(rng.integers(8, 90)))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = rows["embeddings"]
    emb = rng.normal(0, 0.1, size=(nv, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=nv).astype(np.int32),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "path": out_dir,
        "rows": {k: v.num_rows for k, v in tables.items()},
        "bytes": sum(
            os.path.getsize(os.path.join(out_dir, f"{k}.parquet")) for k in tables
        ),
    }


# --- cache ---------------------------------------------------------------


def prepare(shape: str, size: str, seed: int) -> dict:
    """Generate (or reuse) the inputs for one (shape, size, seed)."""
    if shape == "catalog":
        key = f"catalog-{CATALOG_ROWS[size]['lineitem']}"
    else:
        n = (PANEL_SITES if shape == "panel" else RICH_SITES)[size]
        key = f"{shape}-{n}-{seed}"
    out_dir = os.path.join(CACHE, key)
    meta_path = os.path.join(out_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return _resolved(json.load(fh), out_dir)
    tmp = out_dir + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    if shape == "panel":
        meta = make_panel(tmp, PANEL_SITES[size], seed)
    elif shape == "rich":
        meta = make_rich(tmp, RICH_SITES[size], seed)
    elif shape == "catalog":
        meta = make_catalog(tmp, CATALOG_ROWS[size])
    else:
        raise ValueError(f"unknown input shape {shape!r}")
    meta["path"] = os.path.relpath(meta["path"], tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    os.rename(tmp, out_dir)
    return _resolved(meta, out_dir)


def _resolved(meta: dict, out_dir: str) -> dict:
    return {**meta, "path": os.path.normpath(os.path.join(out_dir, meta["path"]))}

"""Seeded input generator for the three benchmark workloads.

Every input is a file the engine reads through its CLI or its query
registry; the engine never sees the generator.  The same seed gives
byte-identical files.  Each workload's files come with ``manifest.json``,
which holds the counts the output checks expect and the in-memory facts
the checks need (store ids, gene model), computed here from the
generation decisions rather than by re-running any engine code.

    python3 pipebench/gen.py --workload strain_load --seed 1 --out DIR

Edge cases (FIXTURES.md):
  §2  multi-sample VCF: '##' headers, multi-allelic ALT (skipped), './.'
      and '0/0' genotypes (skipped), AD='.', FORMAT without AD (skipped),
      CLCAD2 in place of AD, 'RGDID:<n>;<hgvs>' ids, chromosome aliases
      ('chr1', 'chrX', 'M' -> 'MT', and unusable 'NC_005100.4', 'Un',
      'chrUn_NW_1' that the converter drops).
  §4  gene model: both strands, 5'/3' UTRs that fully cover, trim or skip
      an exon, non-coding and multi-transcript genes, overlapping and
      inactive genes, CDS lengths with and without a triplet remainder.
  §5  FASTA consistent with every REF, with lowercase and N runs.
  §8  existing store holding a fixed share of the SNVs, some with
      lowercase alleles (case-insensitive match), plus rows the VCF
      never touches.
"""

from __future__ import annotations

import argparse
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes (one pass of each workload takes a few seconds on 4 cores) ----
VCF_RECORDS = 6000
VCF_STRAINS = 6
# (strain index, sample_id, gender) loaded by VariantLoad3 each pass; one
# male strain, so the hemizygous X/Y zygosity path runs (each load costs
# ~4 s of fixed Spark job overhead on 4 cores, whatever its size)
LOADS = [(0, 101, "M")]
STORE_SNV_SHARE = 0.3
MAP_KEY = 360

ANNOT_CHROMS = {"1": 240_000, "2": 200_000, "X": 160_000}
ANNOT_VARIANTS = 4000
EXISTING_VT_SHARE = 0.1

REGISTRY_ORDERS = 4000  # lineitem ~ 4x orders; sf0.1 has 150,000 orders
REGISTRY_PARTS = 1000
REGISTRY_SUPPLIERS = 50
REGISTRY_DOCS = 250

BASES = "ACGT"

# VCF contig spelling -> normalized chromosome (None: dropped by the
# converter's chromosome filter)
VCF_CONTIGS = [
    ("chr1", "1"),
    ("2", "2"),
    ("chr3", "3"),
    ("chrX", "X"),
    ("chrY", "Y"),
    ("M", "MT"),
    ("NC_005100.4", None),
    ("Un", None),
    ("chrUn_NW_1", None),
]
_CONTIG_WEIGHTS = [22, 20, 18, 12, 6, 4, 6, 6, 6]


def _write_parquet(rows: dict[str, list], types: dict[str, pa.DataType], path: str) -> None:
    table = pa.table({k: pa.array(v, type=types[k]) for k, v in rows.items()})
    # one file, one row group: the layout a single-writer export produces
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _write_manifest(out: str, manifest: dict) -> None:
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True, indent=1)
        fh.write("\n")


# ===========================================================================
# strain_load: multi-sample VCF + gene intervals + existing variant store
# ===========================================================================
def _sample_cell(rng: random.Random, fmt: str) -> tuple[str, bool]:
    """One strain's cell and whether its genotype counts as called."""
    r = rng.random()
    if r < 0.15:
        return "./.", False
    if r < 0.25:
        gt = "0/0"
    elif r < 0.30:
        gt = "1/1"
        dp = rng.randint(5, 60)
        ad = "."
        return _render_cell(fmt, gt, ad, dp, rng), True
    else:
        gt = "0/1" if r < 0.65 else "1/1"
    ref_reads = rng.randint(0, 40) if gt != "1/1" else rng.randint(0, 3)
    alt_reads = rng.randint(1, 40) if gt != "0/0" else 0
    ad = f"{ref_reads},{alt_reads}"
    dp = ref_reads + alt_reads + rng.randint(0, 5)
    return _render_cell(fmt, gt, ad, dp, rng), gt != "0/0"


def _render_cell(fmt: str, gt: str, ad: str, dp: int, rng: random.Random) -> str:
    fields = {"GT": gt, "AD": ad, "CLCAD2": ad, "DP": str(dp),
              "GQ": str(rng.randint(10, 99)), "PL": "0,30,300"}
    return ":".join(fields[k] for k in fmt.split(":"))


def gen_strain_load(seed: int, out: str) -> dict:
    rng = random.Random(f"strain_load/{seed}")
    os.makedirs(out, exist_ok=True)
    strains = [f"STRAIN_{i}" for i in range(VCF_STRAINS)]
    next_pos: dict[str, int] = {}
    records = []
    for _ in range(VCF_RECORDS):
        contig, chrom = rng.choices(VCF_CONTIGS, weights=_CONTIG_WEIGHTS)[0]
        key = chrom or contig
        pos = next_pos.get(key, rng.randint(1000, 5000)) + rng.randint(4, 400)
        next_pos[key] = pos
        records.append((contig, chrom, pos))
    order = {c: i for i, (c, _) in enumerate(VCF_CONTIGS)}
    records.sort(key=lambda r: (order[r[0]], r[2]))

    lines = [
        "##fileformat=VCFv4.2",
        "##source=pipebench-gen",
        *[f"##contig=<ID={c}>" for c, _ in VCF_CONTIGS],
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
        "\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
                   "INFO", "FORMAT", *strains]),
    ]
    cf2_rows = {s: 0 for s in strains}
    kept_snvs = []  # (chrom, pos, ref, alt) of records the converter keeps
    edge = {k: 0 for k in ("multi_allelic", "no_ad", "clcad2", "ad_dot",
                           "gt_missing", "gt_homref", "rgdid_id",
                           "dropped_contig", "mt_alias", "insertion",
                           "deletion")}
    for contig, chrom, pos in records:
        kind = rng.random()
        ref = rng.choice(BASES)
        if kind < 0.05:
            alt = ",".join(rng.sample([b for b in BASES if b != ref], 2))
            edge["multi_allelic"] += 1
        elif kind < 0.11:
            alt = ref + "".join(rng.choice(BASES) for _ in range(rng.randint(1, 3)))
            edge["insertion"] += 1
        elif kind < 0.17:
            alt = ref
            ref = ref + "".join(rng.choice(BASES) for _ in range(rng.randint(1, 3)))
            edge["deletion"] += 1
        else:
            alt = rng.choice([b for b in BASES if b != ref])
        f = rng.random()
        if f < 0.03:
            fmt = "GT:DP:GQ"
            edge["no_ad"] += 1
        elif f < 0.06:
            fmt = "GT:CLCAD2:DP"
            edge["clcad2"] += 1
        else:
            fmt = "GT:AD:DP:GQ:PL"
        i = rng.random()
        if i < 0.5:
            vid = "."
        elif i < 0.9:
            vid = f"rs{rng.randint(1, 10**8)}"
        else:
            vid = f"RGDID:{rng.randint(10**6, 10**7)};{contig}:g.{pos}{ref[0]}>{alt[0]}"
            edge["rgdid_id"] += 1
        cells = []
        called = []
        for _ in strains:
            cell, is_called = _sample_cell(rng, fmt)
            cells.append(cell)
            called.append(is_called)
            edge["ad_dot"] += ":.:" in cell
            edge["gt_missing"] += cell.startswith("./.")
            edge["gt_homref"] += cell.startswith("0/0")
        converter_keeps = chrom is not None and "," not in alt and "AD" in fmt
        edge["dropped_contig"] += chrom is None
        edge["mt_alias"] += chrom == "MT"
        if converter_keeps:
            for s, c in zip(strains, called):
                cf2_rows[s] += c
            if len(ref) == 1 and len(alt) == 1:
                kept_snvs.append((chrom, pos, ref, alt))
        lines.append("\t".join([contig, str(pos), vid, ref, alt, "50", "PASS",
                                f"DP={rng.randint(10, 500)}", fmt, *cells]))
    with open(os.path.join(out, "strains.vcf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    # §8 store: a fixed share of the kept SNVs plus rows the VCF never
    # touches; ids are distinct and unordered with respect to position
    n_store = int(len(kept_snvs) * STORE_SNV_SHARE)
    store_snvs = rng.sample(kept_snvs, n_store)
    others = [(c, p + 1, rng.choice(BASES), rng.choice(BASES)) for c, p, _, _ in
              rng.sample(kept_snvs, n_store)]
    ids = rng.sample(range(1_000_000, 9_000_000), 2 * n_store)
    store = {k: [] for k in ("rgd_id", "chromosome", "start_pos", "end_pos",
                             "ref_nuc", "var_nuc", "variant_type", "map_key")}
    lower = 0
    for rid, (c, p, r, a) in zip(ids, store_snvs + others):
        if rng.random() < 0.2:
            r, a = r.lower(), a.lower()
            lower += 1
        for k, v in zip(store, (rid, c, p, p + 1, r, a, "snv", MAP_KEY)):
            store[k].append(v)
    _write_parquet(store, {
        "rgd_id": pa.int64(), "chromosome": pa.string(), "start_pos": pa.int64(),
        "end_pos": pa.int64(), "ref_nuc": pa.string(), "var_nuc": pa.string(),
        "variant_type": pa.string(), "map_key": pa.int32()},
        os.path.join(out, "store.parquet"))

    genes = {k: [] for k in ("gene_rgd_id", "chromosome", "start_pos",
                             "stop_pos", "map_key", "object_status")}
    gid = 10_000
    for chrom_key, last in sorted(next_pos.items()):
        if chrom_key not in {c for _, c in VCF_CONTIGS if c}:
            continue
        p = 1
        while p < last:
            start = p + rng.randint(500, 20_000)
            stop = start + rng.randint(1_000, 30_000)
            for k, v in zip(genes, (gid, chrom_key, start, stop, MAP_KEY,
                                    "ACTIVE" if rng.random() > 0.05 else "WITHDRAWN")):
                genes[k].append(v)
            gid += 1
            p = stop
    _write_parquet(genes, {
        "gene_rgd_id": pa.int64(), "chromosome": pa.string(), "start_pos": pa.int64(),
        "stop_pos": pa.int64(), "map_key": pa.int32(), "object_status": pa.string()},
        os.path.join(out, "genes.parquet"))

    edge["store_lowercase"] = lower
    manifest = {
        "workload": "strain_load",
        "seed": seed,
        "vcf_records": VCF_RECORDS,
        "strains": strains,
        "loads": [{"strain": strains[i], "sample_id": sid, "gender": g}
                  for i, sid, g in LOADS],
        "map_key": MAP_KEY,
        "cf2_rows": cf2_rows,
        "store_rows": 2 * n_store,
        "store_snvs_from_vcf": n_store,
        "store_max_id": max(ids),
        "genotype_calls": VCF_RECORDS * VCF_STRAINS,
        "edge_cases": edge,
    }
    _write_manifest(out, manifest)
    return manifest


# ===========================================================================
# transcript_annotate: variants x dense gene model x FASTA
# ===========================================================================
def _fasta(rng: random.Random, length: int) -> tuple[str, int, int]:
    seq = list("".join(rng.choice(BASES) for _ in range(length)))
    lower_runs = n_runs = 0
    p = rng.randint(100, 3000)
    while p < length:
        run = rng.randint(20, 400)
        if rng.random() < 0.85:
            seq[p : p + run] = [b.lower() for b in seq[p : p + run]]
            lower_runs += 1
        else:
            seq[p : p + run] = ["N"] * len(seq[p : p + run])
            n_runs += 1
        p += run + rng.randint(500, 6000)
    return "".join(seq), lower_runs, n_runs


def _transcript(rng: random.Random, g_start: int, g_stop: int, strand: str,
                edge: dict) -> list[tuple[str, int, int]]:
    """Exons 1..6 inside the gene plus optional UTRs that fully cover,
    trim, or miss an exon (the three handleUTRs branches)."""
    n_exons = rng.randint(1, 6)
    cuts = sorted(rng.sample(range(g_start + 1, g_stop - 1), 2 * n_exons))
    exons = [(cuts[2 * i], cuts[2 * i + 1]) for i in range(n_exons)]
    feats = [("EXONS", s, e) for s, e in exons]
    first, last = exons[0], exons[-1]
    for name, (s, e) in (("5UTRS", first), ("3UTRS", last)):
        r = rng.random()
        if r < 0.25:
            continue
        if r < 0.5:  # covers the whole terminal exon
            utr = (s, e)
            edge["utr_cover"] += 1
        elif r < 0.85:  # trims part of it
            mid = (s + e) // 2
            utr = (s, mid) if name == "5UTRS" else (mid, e)
            edge["utr_trim"] += 1
        else:  # sits outside every exon
            utr = (max(g_start, s - 40), s - 1) if name == "5UTRS" else (e + 1, min(g_stop, e + 40))
            edge["utr_skip"] += 1
        if strand == "-":
            name = "3UTRS" if name == "5UTRS" else "5UTRS"
        feats.append((name, *utr))
    cds = sum(e - s + 1 for s, e in exons)
    edge["cds_mod3_zero" if cds % 3 == 0 else "cds_mod3_nonzero"] += 1
    return feats


def gen_transcript_annotate(seed: int, out: str) -> dict:
    rng = random.Random(f"transcript_annotate/{seed}")
    os.makedirs(out, exist_ok=True)
    edge = {k: 0 for k in ("utr_cover", "utr_trim", "utr_skip", "cds_mod3_zero",
                           "cds_mod3_nonzero", "minus_strand", "plus_strand",
                           "non_coding", "multi_transcript_genes",
                           "overlapping_genes", "inactive_genes",
                           "fasta_lower_runs", "fasta_n_runs", "snv",
                           "insertion", "deletion", "near_exon_boundary")}
    fasta = {}
    for chrom, length in ANNOT_CHROMS.items():
        fasta[chrom], lo, nn = _fasta(rng, length)
        edge["fasta_lower_runs"] += lo
        edge["fasta_n_runs"] += nn

    genes, transcripts, features = [], [], []
    gid, tid = 20_000, 5_000_000
    for chrom, length in ANNOT_CHROMS.items():
        p = rng.randint(200, 2000)
        while True:
            span = rng.randint(1500, 8000)
            if rng.random() < 0.1 and genes and genes[-1][1] == chrom:
                start = genes[-1][3] - rng.randint(100, 1000)  # overlaps the previous gene
                edge["overlapping_genes"] += 1
            else:
                start = p + rng.randint(100, 2500)
            stop = start + span
            if stop >= length - 10:
                break
            active = rng.random() > 0.05
            edge["inactive_genes"] += not active
            genes.append((gid, chrom, start, stop, "ACTIVE" if active else "INACTIVE"))
            strand = rng.choice("+-")
            edge["plus_strand" if strand == "+" else "minus_strand"] += 1
            n_tr = rng.choice((1, 1, 2, 3))
            edge["multi_transcript_genes"] += n_tr > 1
            for _ in range(n_tr):
                nc = "Y" if rng.random() < 0.15 else "N"
                edge["non_coding"] += nc == "Y"
                transcripts.append((tid, gid, nc))
                for name, s, e in _transcript(rng, start, stop, strand, edge):
                    features.append((tid, name, strand, chrom, s, e))
                tid += 1
            gid += 1
            p = max(p, stop)

    # variants: most inside genes, a share within 10 bp of an exon edge
    exon_edges = [(c, s if rng.random() < 0.5 else e) for _, n, _, c, s, e in features
                  if n == "EXONS"]
    chroms = list(ANNOT_CHROMS)
    used = set()
    variants = []
    vid = 70_000_000
    while len(variants) < ANNOT_VARIANTS:
        r = rng.random()
        if r < 0.3:
            chrom, edge_pos = rng.choice(exon_edges)
            pos = edge_pos + rng.randint(-10, 10)
            near = True
        elif r < 0.85:
            g = rng.choice(genes)
            chrom, pos = g[1], rng.randint(g[2], g[3])
            near = False
        else:
            chrom = rng.choice(chroms)
            pos = rng.randint(1, ANNOT_CHROMS[chrom] - 10)
            near = False
        if (chrom, pos) in used:
            continue
        used.add((chrom, pos))
        seq = fasta[chrom]
        t = rng.random()
        if t < 0.85:
            ref = seq[pos - 1].upper()
            var = rng.choice([b for b in BASES if b != ref])
            end = pos + 1
            edge["snv"] += 1
        elif t < 0.93:
            n = rng.randint(1, 3)
            ref, var, end = seq[pos - 1 : pos - 1 + n].upper(), "", pos + n
            edge["deletion"] += 1
        else:
            ref = ""
            var = "".join(rng.choice(BASES) for _ in range(rng.randint(1, 3)))
            end = pos
            edge["insertion"] += 1
        edge["near_exon_boundary"] += near
        variants.append((vid, chrom, pos, end, ref, var))
        vid += rng.randint(1, 50)

    # expected (variant, transcript) pairs: start position inside an ACTIVE
    # gene's closed interval, transcript has features on that chromosome
    tr_by_gene: dict[int, list[int]] = {}
    for t, g, _ in transcripts:
        tr_by_gene.setdefault(g, []).append(t)
    by_chrom: dict[str, list[tuple]] = {}
    for g in genes:
        if g[4] == "ACTIVE":
            by_chrom.setdefault(g[1], []).append(g)
    pairs = []
    for v in variants:
        for g in by_chrom.get(v[1], ()):
            if g[2] <= v[2] <= g[3]:
                pairs.extend((v[0], t) for t in tr_by_gene[g[0]])
    pairs.sort()
    existing = sorted(rng.sample(pairs, int(len(pairs) * EXISTING_VT_SHARE)))

    _write_parquet(
        {"rgd_id": [v[0] for v in variants], "chromosome": [v[1] for v in variants],
         "start_pos": [v[2] for v in variants], "end_pos": [v[3] for v in variants],
         "ref_nuc": [v[4] for v in variants], "var_nuc": [v[5] for v in variants],
         "map_key": [MAP_KEY] * len(variants)},
        {"rgd_id": pa.int64(), "chromosome": pa.string(), "start_pos": pa.int64(),
         "end_pos": pa.int64(), "ref_nuc": pa.string(), "var_nuc": pa.string(),
         "map_key": pa.int32()},
        os.path.join(out, "variants.parquet"))
    _write_parquet(
        {"gene_rgd_id": [g[0] for g in genes], "chromosome": [g[1] for g in genes],
         "start_pos": [g[2] for g in genes], "stop_pos": [g[3] for g in genes],
         "map_key": [MAP_KEY] * len(genes), "object_status": [g[4] for g in genes]},
        {"gene_rgd_id": pa.int64(), "chromosome": pa.string(), "start_pos": pa.int64(),
         "stop_pos": pa.int64(), "map_key": pa.int32(), "object_status": pa.string()},
        os.path.join(out, "genes.parquet"))
    _write_parquet(
        {"transcript_rgd_id": [t[0] for t in transcripts],
         "gene_rgd_id": [t[1] for t in transcripts],
         "is_non_coding_ind": [t[2] for t in transcripts],
         "acc_id": [f"NM_{t[0]}" for t in transcripts],
         "protein_acc_id": [f"NP_{t[0]}" for t in transcripts]},
        {"transcript_rgd_id": pa.int64(), "gene_rgd_id": pa.int64(),
         "is_non_coding_ind": pa.string(), "acc_id": pa.string(),
         "protein_acc_id": pa.string()},
        os.path.join(out, "transcripts.parquet"))
    _write_parquet(
        {"transcript_rgd_id": [f[0] for f in features],
         "object_name": [f[1] for f in features], "strand": [f[2] for f in features],
         "chromosome": [f[3] for f in features], "start_pos": [f[4] for f in features],
         "stop_pos": [f[5] for f in features], "map_key": [MAP_KEY] * len(features)},
        {"transcript_rgd_id": pa.int64(), "object_name": pa.string(),
         "strand": pa.string(), "chromosome": pa.string(), "start_pos": pa.int64(),
         "stop_pos": pa.int64(), "map_key": pa.int32()},
        os.path.join(out, "features.parquet"))
    _write_parquet(
        {"chromosome": list(fasta), "seq": list(fasta.values())},
        {"chromosome": pa.string(), "seq": pa.string()},
        os.path.join(out, "fasta.parquet"))
    _write_parquet(
        {"variant_rgd_id": [p[0] for p in existing],
         "transcript_rgd_id": [p[1] for p in existing]},
        {"variant_rgd_id": pa.int64(), "transcript_rgd_id": pa.int64()},
        os.path.join(out, "existing_vt.parquet"))

    manifest = {
        "workload": "transcript_annotate",
        "seed": seed,
        "variants": len(variants),
        "genes": len(genes),
        "transcripts": len(transcripts),
        "features": len(features),
        "map_key": MAP_KEY,
        "pairs": len(pairs),
        "existing_vt": len(existing),
        "expected_rows": len(pairs) - len(existing),
        "edge_cases": edge,
    }
    _write_manifest(out, manifest)
    return manifest


# ===========================================================================
# registry_queries: TPC-H-shaped tables in the testdata schema
# ===========================================================================
_WORDS = ("key agg row scan slow fast table value part hash merge batch "
          "spark the line sort window order join small big query data "
          "column group filter stream customer").split()


def gen_registry(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    n_o, n_p, n_s = REGISTRY_ORDERS, REGISTRY_PARTS, REGISTRY_SUPPLIERS
    day = np.datetime64("1992-01-01", "us")
    us_per_day = np.timedelta64(86_400_000_000, "us")

    lines_per_order = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines_per_order)
    n_l = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines_per_order])
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n_l), 2)
    ship = day + rng.integers(0, 2557, n_l) * us_per_day
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_p, n_l, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n_o // 10), n_o, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_o), 2),
        "o_orderdate": pa.array(day + rng.integers(0, 2557, n_o) * us_per_day,
                                type=pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_o)],
    })
    adj = np.array(["small", "red", "large", "blue", "shiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "plate"])
    part = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 5, n_p)], " "),
                              noun[rng.integers(0, 5, n_p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 50, n_p).astype(str)),
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO"])[rng.integers(0, 3, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_p) * 0.1, 2),
    })
    words = np.array(_WORDS)
    n_d = REGISTRY_DOCS
    lengths = rng.integers(10, 80, n_d)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    documents = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_d,
        "source": [f"src{i % 4}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    for name, table in (("lineitem", lineitem), ("orders", orders),
                        ("part", part), ("documents", documents)):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    manifest = {
        "workload": "registry_queries",
        "seed": seed,
        "rows": {"lineitem": n_l, "orders": n_o, "part": n_p, "documents": n_d},
    }
    _write_manifest(out, manifest)
    return manifest


GENERATORS = {
    "strain_load": gen_strain_load,
    "transcript_annotate": gen_transcript_annotate,
    "registry_queries": gen_registry,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    manifest = GENERATORS[args.workload](args.seed, args.out)
    print(json.dumps({k: v for k, v in manifest.items() if k != "edge_cases"}))


if __name__ == "__main__":
    main()

"""Tests of the benchmark's input generator and its declared metrics.

    python3 -m pytest pipebench/test_gen.py -q      (from the repository root)
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_identical_bytes(tmp_path, workload):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.GENERATORS[workload](7, str(a))
    gen.GENERATORS[workload](7, str(b))
    gen.GENERATORS[workload](8, str(c))
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) == sorted(os.listdir(c))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == [] and len(match) == len(names)
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert differ, "another seed must give other inputs"


def test_strain_load_vcf_edge_cases(tmp_path):
    """FIXTURES.md §2 and §8."""
    m = gen.gen_strain_load(3, str(tmp_path))
    assert all(v > 0 for v in m["edge_cases"].values()), m["edge_cases"]
    with open(tmp_path / "strains.vcf") as fh:
        lines = fh.read().splitlines()
    assert lines[0].startswith("##fileformat=VCFv4")
    data = [ln.split("\t") for ln in lines if not ln.startswith("#")]
    assert len(data) == m["vcf_records"]
    contigs = {r[0] for r in data}
    assert {"chr1", "chrX", "M", "NC_005100.4", "Un"} <= contigs
    assert any("," in r[4] for r in data)  # multi-allelic ALT
    cells = [c for r in data for c in r[9:]]
    assert any(c.startswith("./.") for c in cells)
    assert any(c.startswith("0/0") for c in cells)
    assert any(c.split(":")[1:2] == ["."] for c in cells)  # AD='.'
    formats = {r[8] for r in data}
    assert "GT:DP:GQ" in formats and "GT:CLCAD2:DP" in formats
    assert any(r[2].startswith("RGDID:") and ";" in r[2] for r in data)
    assert m["genotype_calls"] == m["vcf_records"] * len(m["strains"])

    store = pq.read_table(tmp_path / "store.parquet").to_pydict()
    assert len(store["rgd_id"]) == m["store_rows"] == len(set(store["rgd_id"]))
    assert max(store["rgd_id"]) == m["store_max_id"]
    assert any(r.islower() for r in store["ref_nuc"])  # case-insensitive match
    snvs = {(r[0], int(r[1]), r[3], r[4]) for r in data if len(r[3]) == len(r[4]) == 1}
    norm = dict(gen.VCF_CONTIGS)
    in_vcf = {(norm[c], p, ref, alt) for c, p, ref, alt in snvs if norm[c]}
    hits = sum((c, s, r.upper(), v.upper()) in in_vcf for c, s, r, v in zip(
        store["chromosome"], store["start_pos"], store["ref_nuc"], store["var_nuc"]))
    assert hits == m["store_snvs_from_vcf"] > 0


def test_transcript_annotate_edge_cases(tmp_path):
    """FIXTURES.md §4 and §5: FASTA consistent with every REF."""
    m = gen.gen_transcript_annotate(3, str(tmp_path))
    assert all(v > 0 for v in m["edge_cases"].values()), m["edge_cases"]
    fasta = pq.read_table(tmp_path / "fasta.parquet").to_pydict()
    seqs = dict(zip(fasta["chromosome"], fasta["seq"]))
    assert any(ch.islower() for s in seqs.values() for ch in s)
    assert any("NNNN" in s for s in seqs.values())
    v = pq.read_table(tmp_path / "variants.parquet").to_pydict()
    for c, s, ref in zip(v["chromosome"], v["start_pos"], v["ref_nuc"]):
        assert ref == seqs[c][s - 1 : s - 1 + len(ref)].upper()
    feats = pq.read_table(tmp_path / "features.parquet").to_pydict()
    assert set(feats["object_name"]) == {"EXONS", "3UTRS", "5UTRS"}
    assert set(feats["strand"]) == {"+", "-"}
    tr = pq.read_table(tmp_path / "transcripts.parquet").to_pydict()
    assert set(tr["is_non_coding_ind"]) == {"Y", "N"}
    ex = pq.read_table(tmp_path / "existing_vt.parquet")
    assert m["expected_rows"] == m["pairs"] - ex.num_rows > 0


def test_registry_tables_match_testdata_schema(tmp_path):
    m = gen.gen_registry(3, str(tmp_path))
    li = pq.read_schema(tmp_path / "lineitem.parquet")
    assert li.field("l_shipdate").type.unit == "us"
    assert str(li.field("l_linenumber").type) == "int32"
    assert pq.read_metadata(tmp_path / "lineitem.parquet").num_rows == m["rows"]["lineitem"]


def test_benchmark_json_declares_what_run_prints():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert set(run.WORKLOADS) == set(workloads.WORKLOADS) == set(gen.GENERATORS)
    names = [m["name"] for m in bench["end_to_end"]]
    assert names == ["cpu_s", "setup_s"]

"""The three workloads: their operations per pass and their output checks.

Every operation reaches the engine only through
``variant_load_pipeline_spark.cli.main([...], spark)`` or the query
registry, one call at a time (a closed loop with one client).  Checks run
after each pass, outside the timed region, on files the pass wrote; a
check that fails marks its operation as failed.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random

import pyarrow.parquet as pq

REGISTRY_QUERIES = [
    "q1_pricing_summary",
    "j1_interval_overlap",
    "j4_dedup_upsert_ids",
    "zygosity_snv",
    "a5_alleles_per_position",
    "w6_first_match_wins",
    "c13_translate",
    "j6_j8_transcript_features",
    "s3_s4_vcf_field_parse",
    "p29_annotate_chunked",
]

ANNOTATE_SAMPLE = 60  # rows per pass re-derived with the pure-Python kernel


class Workload:
    """One workload bound to its generated inputs and a live session."""

    def __init__(self, spark, tracer, inputs: str, out: str, manifest: dict, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.out = out
        self.manifest = manifest
        self.seed = seed
        self.counts: dict[str, float] = {}

    def _in(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def _cli(self, argv: list[str]) -> None:
        from variant_load_pipeline_spark.cli import main

        main(argv, self.spark)

    def ops(self) -> list[tuple[str, str, callable]]:
        """(layer, operation name, zero-argument call) for one pass."""
        raise NotImplementedError

    def check(self, pass_no: int) -> list[tuple[str, str]]:
        """(operation name, problem) for every failed output check."""
        raise NotImplementedError

    def verify(self) -> list[tuple[str, str]] | None:
        """An untimed verification pass; None when a checked ordinary pass
        serves as the priming pass."""
        return None

    def finish(self) -> list[tuple[str, str]]:
        """Untimed checks after the last timed pass."""
        return []


# ===========================================================================
class StrainLoad(Workload):
    """VcfConverter2, then VariantLoad3 per loaded strain against the store."""

    @property
    def items(self) -> int:
        return self.manifest["genotype_calls"]

    def ops(self):
        cf2 = os.path.join(self.out, "cf2")
        ops = [("convert", "VcfConverter2", lambda: self._cli([
            "--tool", "VcfConverter2", "--vcf", self._in("strains.vcf"), "--out", cf2]))]
        for ld in self.manifest["loads"]:
            argv = ["--tool", "VariantLoad3",
                    "--cf2", os.path.join(cf2, f"strain={ld['strain']}"),
                    "--sample-id", str(ld["sample_id"]), "--gender", ld["gender"],
                    "--map-key", str(self.manifest["map_key"]),
                    "--genes", self._in("genes.parquet"),
                    "--existing", self._in("store.parquet"),
                    "--out", os.path.join(self.out, "tables", ld["strain"])]
            ops.append(("load", f"VariantLoad3:{ld['strain']}",
                        lambda argv=argv: self._cli(argv)))
        return ops

    def _store(self) -> dict[tuple, int]:
        if not hasattr(self, "_store_keys"):
            t = pq.read_table(self._in("store.parquet")).to_pydict()
            self._store_keys = {
                (s, e, c, r.upper(), vt, v.upper()): i
                for i, c, s, e, r, v, vt in zip(
                    t["rgd_id"], t["chromosome"], t["start_pos"], t["end_pos"],
                    t["ref_nuc"], t["var_nuc"], t["variant_type"])}
        return self._store_keys

    def check(self, pass_no):
        problems = []
        cf2 = os.path.join(self.out, "cf2")
        for strain, want in self.manifest["cf2_rows"].items():
            got = 0
            for path in glob.glob(os.path.join(cf2, f"strain={strain}", "part-*")):
                with open(path, "rb") as fh:
                    got += sum(1 for line in fh if line.strip())
            if got != want:
                problems.append(("VcfConverter2", f"{strain}: {got} CF2 rows, manifest {want}"))
        store = self._store()
        max_store = self.manifest["store_max_id"]
        reused = total = 0
        for ld in self.manifest["loads"]:
            op = f"VariantLoad3:{ld['strain']}"
            base = os.path.join(self.out, "tables", ld["strain"])
            var = pq.read_table(os.path.join(base, "variant")).to_pydict()
            vmd = pq.read_table(os.path.join(base, "variant_map_data")).to_pydict()
            ids = var["rgd_id"]
            if len(set(ids)) != len(ids):
                problems.append((op, "rgd_id not unique in variant"))
            alleles = {i: (r or "", v or "", t) for i, r, v, t in zip(
                ids, var["ref_nuc"], var["var_nuc"], var["variant_type"])}
            n_reused = 0
            for i, c, s, e in zip(vmd["rgd_id"], vmd["chromosome"],
                                  vmd["start_pos"], vmd["end_pos"]):
                r, v, t = alleles[i]
                want = store.get((s, e, c, r.upper(), t, v.upper()))
                if want is not None:
                    n_reused += 1
                    if i != want:
                        problems.append((op, f"store key at {c}:{s} got id {i}, store id {want}"))
                        break
                elif i <= max_store:
                    problems.append((op, f"new id {i} not above store max {max_store}"))
                    break
            if n_reused == 0:
                problems.append((op, "no store id reused"))
            reused += n_reused
            total += len(vmd["rgd_id"])
        self.counts["upsert.reused_frac"] = reused / total if total else 0.0
        return problems


# ===========================================================================
class TranscriptAnnotate(Workload):
    """VariantPostProcessing over a loaded variant set and a dense gene model."""

    FIELDS = ("location_name", "near_splice_site", "ref_aa", "var_aa",
              "syn_status", "full_ref_aa_pos", "full_ref_nuc_pos",
              "triplet_error", "frameshift")

    @property
    def items(self) -> int:
        return self.manifest["variants"]

    def ops(self):
        argv = ["--tool", "VariantPostProcessing",
                "--variants", self._in("variants.parquet"),
                "--genes", self._in("genes.parquet"),
                "--transcripts", self._in("transcripts.parquet"),
                "--features", self._in("features.parquet"),
                "--fasta", self._in("fasta.parquet"),
                "--existing-vt", self._in("existing_vt.parquet"),
                "--map-key", str(self.manifest["map_key"]),
                "--out", os.path.join(self.out, "variant_transcript")]
        return [("annotate", "VariantPostProcessing", lambda: self._cli(argv))]

    def _model(self):
        if not hasattr(self, "_m"):
            v = pq.read_table(self._in("variants.parquet")).to_pydict()
            variants = {i: row for i, *row in zip(
                v["rgd_id"], v["chromosome"], v["start_pos"], v["end_pos"],
                v["ref_nuc"], v["var_nuc"])}
            f = pq.read_table(self._in("features.parquet")).to_pydict()
            feats: dict[tuple, list] = {}
            for t, n, st, c, s, e in zip(f["transcript_rgd_id"], f["object_name"],
                                         f["strand"], f["chromosome"],
                                         f["start_pos"], f["stop_pos"]):
                feats.setdefault((t, c), []).append((n, s, e, st))
            for k in feats:
                feats[k].sort()
            t = pq.read_table(self._in("transcripts.parquet")).to_pydict()
            nc = dict(zip(t["transcript_rgd_id"], t["is_non_coding_ind"]))
            fa = pq.read_table(self._in("fasta.parquet")).to_pydict()
            self._m = variants, feats, nc, dict(zip(fa["chromosome"], fa["seq"]))
        return self._m

    def check(self, pass_no):
        from variant_load_pipeline_spark.plans.postprocess import annotate_pair

        op = "VariantPostProcessing"
        out = pq.read_table(os.path.join(self.out, "variant_transcript")).to_pydict()
        n = len(out["variant_rgd_id"])
        problems = []
        if n != self.manifest["expected_rows"]:
            problems.append((op, f"{n} rows, manifest {self.manifest['expected_rows']}"))
        keys = set(zip(out["variant_rgd_id"], out["transcript_rgd_id"]))
        if len(keys) != n:
            problems.append((op, f"{n - len(keys)} duplicate (variant, transcript) rows"))
        variants, feats, nc, fasta = self._model()
        rng = random.Random(f"annotate-sample/{self.seed}/{pass_no}")
        for i in rng.sample(range(n), min(ANNOTATE_SAMPLE, n)):
            vid, tid = out["variant_rgd_id"][i], out["transcript_rgd_id"][i]
            chrom, start, stop, ref, var = variants[vid]
            fl = feats.get((tid, chrom), [])
            want = annotate_pair(start, stop, ref, var, fl,
                                 sum(1 for x in fl if x[0] == "EXONS"),
                                 nc[tid], fasta[chrom])
            got = {k: out[k][i] for k in self.FIELDS}
            bad = [k for k in self.FIELDS if got[k] != want[k]]
            if bad:
                problems.append((op, f"({vid}, {tid}) differs from annotate_pair in {bad}"))
                break
        return problems


# ===========================================================================
def canon_digest(rows: list[tuple], columns: list[str]) -> tuple[int, str]:
    """Order-insensitive digest of a result: floats to 6 decimals, every
    value rendered as text, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(x):
        if isinstance(x, float):
            return f"{round(x, 6):.6f}"
        return str(x)

    lines = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]


class RegistryQueries(Workload):
    """Each registry query built fresh and run through the noop sink."""

    @property
    def items(self) -> int:
        return len(REGISTRY_QUERIES)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from variant_load_pipeline_spark import queries as Q
        import variant_load_pipeline_spark.queries_ext  # noqa: F401  (registers)

        self.registry = Q.registry()
        self.digests: dict[str, tuple[int, str]] = {}

    def build(self, name: str):
        return self.registry[name].spark_fn(self.spark, self.inputs)

    def _run(self, name: str) -> None:
        with self.tracer.span("queries", name, "construct"):
            df = self.build(name)
        df.write.format("noop").mode("overwrite").save()

    def ops(self):
        return [("queries", name, lambda name=name: self._run(name))
                for name in REGISTRY_QUERIES]

    def _spark_digest(self, name: str) -> tuple[int, str]:
        df = self.build(name)
        return canon_digest([tuple(r) for r in df.collect()], df.columns)

    def verify(self):
        import duckdb

        con = duckdb.connect(config={"temp_directory": os.path.join(self.out, "duckdb")})
        for t in self.manifest["rows"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self._in(t + '.parquet')}')")
        problems = []
        for name in REGISTRY_QUERIES:
            try:
                got = self._spark_digest(name)
            except Exception as ex:  # a query that fails counts as failed
                problems.append((name, f"{type(ex).__name__}: {str(ex)[:300]}"))
                continue
            res = con.execute(self.registry[name].oracle)
            cols = [d[0] for d in res.description]
            want = canon_digest(res.fetchall(), cols)
            if got != want:
                problems.append((name, f"spark {got} != duckdb oracle {want}"))
            self.digests[name] = got
        con.close()
        return problems

    def check(self, pass_no):
        return []

    def finish(self):
        """After the timed passes, re-collect one query (chosen by the seed,
        so runs cover all of them) and compare its digest with the
        verification pass."""
        name = REGISTRY_QUERIES[self.seed % len(REGISTRY_QUERIES)]
        got = self._spark_digest(name)
        if got != self.digests.get(name):
            return [(name, f"digest {got} drifted from {self.digests.get(name)}")]
        return []


WORKLOADS = {
    "strain_load": StrainLoad,
    "transcript_annotate": TranscriptAnnotate,
    "registry_queries": RegistryQueries,
}

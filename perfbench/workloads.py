"""The benchmark's workloads. Each one prepares seeded inputs (untimed),
opens them (part of set-up), yields the operations of one pass, and checks
every operation's output outside the timed region.

- ``verdict_scan``: one schema over many rows, read only, then the table
  operators over the same rows (exact dedup, text functions, an exact
  profile). Stresses parquet scan, predicate evaluation and aggregation;
  no Python workers, no writes.
- ``schema_corpus``: many schemas over few rows. Driver-bound: schema
  compile (py4j) and Catalyst planning dominate.
- ``clips_pipeline``: the production job ``runner.validate_table`` with
  audio checks, a transcript reference and a baseline profile, followed by
  a resume after a simulated kill. Exercises Python workers, exchanges and
  the per-bucket commit protocol.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
from typing import Any

import inputs
from harness import ROOT, Op, OpResult


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class VerdictScan:
    name = "verdict_scan"
    ROWS = 200_000
    # the table operators run over a smaller table from the same generator
    # and seed: their text functions cost far more per row than the scan
    OPS_ROWS = 20_000
    # The first pass is about twice as slow as the ones after it (JIT). A
    # fixed count, not a time, so that a run whose inputs were cached (and
    # so did less Spark work before measuring) starts from nearly the same
    # warmth as one that generated them.
    WARMUP_PASSES = 1
    PYTHON_WORKERS = False

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.expected: dict[str, Any] | None = None

    def prepare(self, spark) -> None:
        self.path, self.ops_path = inputs.clips_scan_tables(
            spark, self.ROWS, self.OPS_ROWS, self.seed)

    def open(self, spark) -> None:
        from json_skema_spark.sources.clips import CLIPS_CONSTRAINT_SCHEMA
        self.spark = spark
        self.schema_doc = CLIPS_CONSTRAINT_SCHEMA
        self.df = spark.read.parquet(self.path)
        self.ops_df = spark.read.parquet(self.ops_path)

    @property
    def items_per_pass(self) -> int:
        return self.ROWS

    def make_pass(self, k: int) -> list[Op]:
        from json_skema_spark import compile_schema
        from json_skema_spark.operators import dedup, stats
        st: dict[str, Any] = {}

        def compile_() -> None:
            st["plan"] = compile_schema(self.schema_doc, self.df.schema)

        def verdict():
            return st["plan"].apply(self.df, mode="verdict") \
                .groupBy("passed").count().collect()

        def summary():
            return st["plan"].summary(self.df).collect()

        def violations() -> None:
            st["plan"].violations(self.df, "clip_id") \
                .write.format("noop").mode("overwrite").save()

        def duplicates():
            return dedup.exact_duplicates(self.ops_df, "transcript", "clip_id").collect()

        def text_fns() -> None:
            self._text_df().write.format("noop").mode("overwrite").save()

        def profile():
            return stats.profile(self.ops_df.drop("bytes"), exact_distinct=True).collect()

        return [
            Op("compile", compile_),
            Op("verdict", verdict,
               observe=lambda rows: {bool(r[0]): int(r[1]) for r in rows}),
            Op("summary", summary,
               observe=lambda rows: {r["keyword_location"]: int(r["n_violations"])
                                     for r in rows}),
            Op("violations", violations),
            Op("dedup", duplicates,
               observe=lambda rows: {r["digest"]: (int(r["n_docs"]), list(r["doc_ids"]))
                                     for r in rows}),
            Op("text", text_fns),
            Op("profile", profile, observe=lambda rows: [r.asDict() for r in rows]),
        ]

    def _text_df(self):
        from pyspark.sql import functions as F

        from json_skema_spark.functions import text
        t = F.col("transcript")
        return self.ops_df.select("clip_id", text.language_id(t).alias("lang"),
                                  text.token_count(t).alias("n_tokens"))

    def _oracle(self) -> dict[str, Any]:
        """Every checked output recomputed by DuckDB from the same parquet
        files: pass/fail and per-keyword counts, duplicate-transcript
        groups, per-language row and token counts, and the exact profile."""
        import duckdb
        def files(path: str) -> list[str]:
            return sorted(glob.glob(os.path.join(path, "*.parquet")))
        conds = {
            "#/properties/clip_id/pattern":
                "clip_id IS NOT NULL AND NOT regexp_matches(clip_id, '^clip_[0-9a-f]{12}$')",
            "#/properties/sr_hz/enum":
                "sr_hz IS NOT NULL AND sr_hz NOT IN (8000, 16000, 22050, 44100, 48000)",
            "#/properties/dur_ms/minimum": "dur_ms < 1",
            "#/properties/dur_ms/maximum": "dur_ms > 600000",
            "#/properties/codec/enum":
                "codec IS NOT NULL AND codec NOT IN ('pcm_s16le', 'flac', 'opus')",
            "#/properties/transcript/minLength":
                "transcript IS NOT NULL AND length(transcript) < 1",
        }
        required = ("(clip_id IS NULL)::INT + (sr_hz IS NULL)::INT + "
                    "(dur_ms IS NULL)::INT + (codec IS NULL)::INT + "
                    "(transcript IS NULL)::INT")
        cols = ", ".join(f"count(*) FILTER (WHERE {c})" for c in conds.values())
        con = duckdb.connect()
        try:
            con.read_parquet(files(self.path)).create_view("clips")
            con.read_parquet(files(self.ops_path)).create_view("ops")
            row = con.execute(
                f"SELECT count(*), {cols}, sum({required}), "
                f"count(*) FILTER (WHERE ({required}) = 0 AND NOT ("
                + " OR ".join(f"coalesce({c}, false)" for c in conds.values())
                + ")) FROM clips").fetchone()
            dups = con.execute(_DEDUP_SQL).fetchall()
            langs = con.execute(_LANG_SQL).fetchall()
            prof = con.execute(" UNION ALL ".join(
                _PROFILE_SQL.format(c=c) for c in _PROFILED)).fetchall()
        finally:
            con.close()
        kw = dict(zip(conds, row[1:1 + len(conds)]))
        kw["#/required"] = row[1 + len(conds)]
        n, n_pass = row[0], row[-1]
        return {"verdict": {True: n_pass, False: n - n_pass},
                "summary": {k: int(v) for k, v in kw.items() if v},
                "dedup": {d: (int(k), list(ids)) for d, k, ids in dups},
                "text": {lang: (int(k), int(t or 0)) for lang, k, t in langs},
                "profile": {r[0]: tuple(r[1:]) for r in prof}}

    def _expected(self, name: str):
        if self.expected is None:
            self.expected = self._oracle()
        return self.expected[name]

    def check(self, r: OpResult) -> str | None:
        if r.name == "profile":
            return _check_profile(r.output, self._expected("profile"))
        if r.name not in ("verdict", "summary", "dedup"):
            return None
        want = self._expected(r.name)
        if r.output == want:
            return None
        if r.name == "dedup":
            diff = [d for d in set(r.output) | set(want)
                    if r.output.get(d) != want.get(d)][:3]
            return f"dedup: {len(r.output)} groups vs duckdb {len(want)}; differ: {diff}"
        return f"{r.name}: {r.output} != duckdb {want}"

    def final_checks(self) -> list[str]:
        """The noop-sink operations are re-run once, untimed, aggregated,
        against the same oracle counts: violations per keyword location,
        rows and tokens per guessed language."""
        from json_skema_spark import compile_schema
        from pyspark.sql import functions as F
        errors = []
        plan = compile_schema(self.schema_doc, self.df.schema)
        got = {r[0]: int(r[1]) for r in plan.violations(self.df, "clip_id")
               .groupBy("keyword_location").agg(F.count("*")).collect()}
        want = self._expected("summary")
        if got != want:
            errors.append(f"violations: {got} != duckdb {want}")
        got = {r[0]: (int(r[1]), int(r[2] or 0)) for r in self._text_df()
               .groupBy("lang").agg(F.count("*"), F.sum("n_tokens")).collect()}
        want = self._expected("text")
        if got != want:
            errors.append(f"text: {got} != duckdb {want}")
        return errors


# the columns ``stats.profile`` profiles (``bytes`` is binary: skipped)
_PROFILED = ("clip_id", "sr_hz", "dur_ms", "codec", "transcript")

_PROFILE_SQL = """SELECT '{c}', count(*), avg(({c} IS NULL)::INT),
    min({c})::VARCHAR, max({c})::VARCHAR, count(DISTINCT {c}) FROM ops"""

# dedup.exact_duplicates: md5 of the whitespace-collapsed, trimmed,
# lowercased text; groups of more than one; the 100 smallest ids
_DEDUP_SQL = r"""
    WITH d AS (SELECT clip_id,
        md5(lower(trim(regexp_replace(transcript, '\s+', ' ', 'g')))) AS digest
        FROM ops WHERE transcript IS NOT NULL)
    SELECT digest, count(*), list_sort(list(clip_id))[1:100]
    FROM d GROUP BY digest HAVING count(*) > 1"""

_TOKENS = ("list_filter(string_split_regex(lower(trim(transcript)), '\\s+'), "
           "x -> x <> '')")

# text.language_id: the language with the most stopword hits, earlier
# languages winning ties, 'und' without hits; text.token_count per row
_LANG_SQL = f"""
    WITH h AS (SELECT len({_TOKENS}) AS n,
      len(list_filter({_TOKENS}, x -> x IN
        ('the','and','of','to','in','is','that','it','was','for'))) AS en,
      len(list_filter({_TOKENS}, x -> x IN
        ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS de,
      len(list_filter({_TOKENS}, x -> x IN
        ('le','la','les','et','est','pas','une','des','dans','que'))) AS fr,
      len(list_filter({_TOKENS}, x -> x IN
        ('el','la','los','y','es','no','una','por','con','para'))) AS es,
      len(list_filter({_TOKENS}, x -> x IN
        ('a','az','és','hogy','nem','egy','van','de','is','meg'))) AS hu
      FROM ops),
    g AS (SELECT n, greatest(en, de, fr, es, hu) AS top, en, de, fr, es FROM h)
    SELECT CASE WHEN coalesce(top, 0) = 0 THEN 'und' WHEN en = top THEN 'en'
                WHEN de = top THEN 'de' WHEN fr = top THEN 'fr'
                WHEN es = top THEN 'es' ELSE 'hu' END AS lang,
           count(*), sum(n)
    FROM g GROUP BY lang"""


def _check_profile(rows: list[dict], want: dict[str, tuple]) -> str | None:
    """Exact fields equal DuckDB's; approximate quantiles ascend within
    [min, max]."""
    got = {}
    for r in rows:
        got[r["column_name"]] = (r["n_rows"], r["null_fraction"], r["min_value"],
                                 r["max_value"], r["approx_distinct"])
        qs = r["quantiles"]
        if qs is not None and (qs != sorted(qs) or qs[0] < float(r["min_value"])
                               or qs[-1] > float(r["max_value"])):
            return f"profile: {r['column_name']} quantiles {qs} out of order or range"
    for c in set(got) | set(want):
        g, w = got.get(c), want.get(c)
        if g is None or w is None or g[0] != w[0] or abs(g[1] - w[1]) > 1e-12 \
                or g[2:] != tuple(w[2:]):
            return f"profile: {c} {g} != duckdb {w}"
    return None


class SchemaCorpus:
    name = "schema_corpus"
    SUITE = os.path.join(ROOT, "tests", "suite")
    # A fixed slice of the in-repo conformance corpus (18 of its 284
    # schema groups, 44 of its 998 cases), so every seed does the same
    # work; the seed only permutes file and case order. Chosen from each
    # group's measured compile time and py4j calls so that the slice keeps
    # the corpus's mix: one typical group each of ref.json and the
    # allOf/anyOf/oneOf/if-then-else/properties files, then, until the
    # slice reached 3% of the corpus's py4j calls, a median-cost group of
    # the keyword family furthest below its share of those calls (see
    # README.md for the shares).
    GROUPS = (
        ("ref.json", "$id must be resolved against nearest parent, not just immediate parent"),
        ("ref.json", "nested refs"),
        ("ref.json", "ref applies alongside sibling keywords"),
        ("dynamicRef.json", "$ref to $dynamicRef finds detached $dynamicAnchor"),
        ("refRemote.json", "ref within remote ref"),
        ("anchor.json", "Location-independent identifier"),
        ("anchor.json", "Location-independent identifier with absolute URI"),
        ("anchor.json", "Location-independent identifier with base URI change in subschema"),
        ("unevaluatedItems.json", "unevaluatedItems with items and prefixItems"),
        ("properties.json", "properties whose names are Javascript object property names"),
        ("maxContains.json", "minContains < maxContains"),
        ("allOf.json", "allOf with two empty schemas"),
        ("anyOf.json", "anyOf with boolean schemas, all false"),
        ("oneOf.json", "oneOf with boolean schemas, one true"),
        ("if-then-else.json", "ignore if without then or else"),
        ("exclusiveMaximum.json", "exclusiveMaximum validation"),
        ("exclusiveMaximum.json", "exclusiveMaximum with integer boundary"),
        ("exclusiveMinimum.json", "exclusiveMinimum validation"),
    )
    WARMUP_PASSES = 1
    PYTHON_WORKERS = False

    def __init__(self, seed: int, work: str):
        self.seed = seed

    def prepare(self, spark) -> None:
        pass  # the corpus is checked in

    def open(self, spark) -> None:
        from json_skema_spark.sources import suite
        self.spark = spark
        self.registry = suite.load_remotes(self.SUITE)
        rng = random.Random(self.seed)
        wanted = set(self.GROUPS)
        by_file: dict[str, list] = {}
        for g in suite.load_suite_groups(self.SUITE):
            if (os.path.basename(g.file), g.description) in wanted:
                wanted.discard((os.path.basename(g.file), g.description))
                rng.shuffle(g.tests)
                by_file.setdefault(g.file, []).append(g)
        if wanted:
            raise FileNotFoundError(f"suite groups missing: {sorted(wanted)}")
        self.by_file = by_file
        self.rng = rng

    @property
    def items_per_pass(self) -> int:
        return sum(len(g.tests) for gs in self.by_file.values() for g in gs)

    def make_pass(self, k: int) -> list[Op]:
        from json_skema_spark.sources import suite
        files = sorted(self.by_file)
        self.rng.shuffle(files)
        return [Op(f, (lambda f=f: suite.run_suite_file(
                    self.spark, self.by_file[f], self.registry)),
                   observe=lambda res: [(r.test, r.expected, r.got) for r in res])
                for f in files]

    def check(self, r: OpResult) -> str | None:
        bad = [t for t, want, got in r.output if got is None or got != want]
        return f"{r.name}: {len(bad)} case(s) differ from `valid`: {bad[:3]}" \
            if bad else None

    def final_checks(self) -> list[str]:
        return []


# outputs compared between the uninterrupted run and its resume: written
# per bucket, then by the global phase
BUCKET_OUTPUTS = ("violations", "profile")
GLOBAL_OUTPUTS = ("violations_unique", "violations_ref", "drift")
PIPELINE_OUTPUTS = BUCKET_OUTPUTS + GLOBAL_OUTPUTS


class ClipsPipeline:
    name = "clips_pipeline"
    CLIPS = 160
    BUCKETS = 2
    # The first pass is measured, with no warm-up: the job runs once per
    # process in production, one pass of it fills a run, and across runs
    # the first pass varies less than the second. How fast it is depends
    # on what the JVM ran before it, so the inputs are built afresh in
    # every run, never taken from the cache.
    WARMUP_PASSES = 0
    PYTHON_WORKERS = True

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.in_root = os.path.join(work, "inputs")
        self.out_root = os.path.join(work, "pipeline")
        self.reference: dict[int, dict[str, str]] = {}
        self.out_per_in = 0.0

    def prepare(self, spark) -> None:
        self.paths = inputs.clips_pipeline_inputs(spark, self.CLIPS, self.seed,
                                                  self.in_root)
        self.in_bytes = _dir_bytes(self.paths["clips"])

    def open(self, spark) -> None:
        self.spark = spark
        self.clips = spark.read.parquet(self.paths["clips"])
        self.ref = spark.read.parquet(self.paths["ref"])
        self.baseline = spark.read.parquet(self.paths["baseline"])

    @property
    def items_per_pass(self) -> int:
        return self.CLIPS

    def _validate(self, out: str) -> dict:
        from json_skema_spark import runner
        return runner.validate_table(
            self.spark, self.clips, out, transcripts_ref=self.ref,
            baseline_profile=self.baseline, num_buckets=self.BUCKETS)

    def _hashes(self, out: str) -> dict[str, str]:
        """Order-insensitive content hash of each output table."""
        hashes = {}
        for name in PIPELINE_OUTPUTS:
            df = self.spark.read.parquet(os.path.join(out, name))
            cols = sorted(df.columns)
            lines = sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
            hashes[name] = hashlib.sha256(
                "\n".join([",".join(cols)] + lines).encode()).hexdigest()[:16]
        return hashes

    def _simulate_kill(self, out: str) -> None:
        """Leave ``out`` as a run killed after half the buckets would have:
        the manifest (format documented in operators/checkpoint.py) loses
        the later half of ``completed`` and every global mark, and the
        outputs those would have committed are deleted, so the resume has
        to recompute them for the hashes to match."""
        path = os.path.join(out, "_manifest", "manifest.json")
        with open(path) as f:
            state = json.load(f)
        done = sorted(state["completed"], key=int)
        state["completed"] = {b: state["completed"][b]
                              for b in done[:len(done) // 2]}
        state.pop("global", None)
        with open(path, "w") as f:
            f.write(json.dumps(state, indent=1, sort_keys=True))
        for b in done[len(done) // 2:]:
            for table in BUCKET_OUTPUTS:
                shutil.rmtree(os.path.join(out, table, f"bucket={b}"))
        for table in GLOBAL_OUTPUTS:
            shutil.rmtree(os.path.join(out, table))

    def make_pass(self, k: int) -> list[Op]:
        out = os.path.join(self.out_root, f"pass{k}")

        def fresh() -> None:
            shutil.rmtree(self.out_root, ignore_errors=True)
            os.makedirs(self.out_root)

        def observe_full(metrics: dict) -> dict:
            self.reference[k] = self._hashes(out)
            self.out_per_in = _dir_bytes(out) / self.in_bytes
            return {"rows": sum(m["rows"] for m in metrics.values()),
                    "buckets": len(metrics),
                    "violations": sum(m["violations"] for m in metrics.values())}

        return [
            Op("validate", lambda: self._validate(out), prep=fresh,
               observe=observe_full),
            Op("resume", lambda: self._validate(out),
               prep=lambda: self._simulate_kill(out),
               observe=lambda _m: {"pass": k, "hashes": self._hashes(out)}),
        ]

    def check(self, r: OpResult) -> str | None:
        if r.name == "validate":
            o = r.output
            if o["rows"] != self.CLIPS or o["buckets"] != self.BUCKETS:
                return f"validate: {o['rows']} rows in {o['buckets']} buckets"
            return None if o["violations"] > 0 else "validate: no violations"
        want = self.reference.get(r.output["pass"])
        got = r.output["hashes"]
        return None if got == want else f"resume output differs: {got} != {want}"

    def final_checks(self) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (VerdictScan, SchemaCorpus, ClipsPipeline)}

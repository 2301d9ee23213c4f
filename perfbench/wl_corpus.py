"""The corpus part of ``batch_pipeline``: one curation pass per round.

Documents carry Zipf tokens, exact and near duplicates, a spread of
lengths, five languages and eight sources. A pass normalizes the text,
computes the MinHash LSH band signatures near-duplicate detection starts
from and interleaves the languages into one training stream. Each stage
runs with the parameters of its registry entry, so the registry's DuckDB
oracle twin replays it. ``quality_filter``, ``domain_tag``,
``dedup_exact`` and ``mixture_report`` are left out of the pass to keep
a run within its time budget; one stage still measures each of
``functions.text``, ``functions.dedup`` and ``functions.selection``.
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.stats import median

SIZES = {"full": dict(n_docs=2_000), "tiny": dict(n_docs=400)}
CONFIRM_JACCARD = 0.5


class Corpus:
    name = "corpus"

    def __init__(self, scale: str):
        self.size = SIZES[scale]
        self.results: dict = {}

    def generate(self, rng, out_dir: str) -> dict:
        self.dir = out_dir
        return gen.corpus_inputs(rng, out_dir, shape=gen.Shape(), **self.size)

    def prepare(self, ctx) -> None:
        pass

    def _docs(self, spark):
        return spark.read.parquet(os.path.join(self.dir, "documents.parquet"))

    # -- stages: each builds its DataFrame and collects it ---------------

    def normalize_text(self, ctx) -> None:
        from embeddinghub_spark.functions.text import normalize_text

        df = normalize_text(self._docs(ctx.spark).select("doc_id", "text"), mask_digits=True)
        self.results["normalize_text"] = ctx.collect(df)

    def minhash_bands(self, ctx) -> None:
        from embeddinghub_spark.functions.dedup import minhash_candidates

        self.results["minhash_bands"] = ctx.collect(minhash_candidates(self._docs(ctx.spark)))

    def interleave_sources(self, ctx) -> None:
        import __spark_entry__ as registry
        from embeddinghub_spark.functions.selection import interleave_sources

        df = interleave_sources(self._docs(ctx.spark).select("doc_id", "lang"), ["doc_id"],
                                domain_col="lang", weights=registry._DOMAIN_MIX, seed=42)
        self.results["interleave_sources"] = ctx.collect(df)

    def stages(self) -> list:
        return [self.normalize_text, self.minhash_bands, self.interleave_sources]

    # the registry entries project these columns before their oracle runs
    PROJECT = {"interleave_sources": ["doc_id", "lang", "domain_position", "position"]}

    def check(self, ctx, checks) -> None:
        import __spark_entry__ as registry
        from perfbench.checks import duck, same_rows

        oracles = registry.oracle_sql()
        con = duck(self.dir, ["documents"])
        for name, got in self.results.items():
            cols = self.PROJECT.get(name, list(got.columns))
            checks.run(f"corpus.{name}",
                       lambda n=name, g=got[cols]: same_rows(g, con.execute(oracles[n]).df()))
        con.close()

    def details(self, rounds: list[dict]) -> dict:
        passes = [sum(v for k, v in r.items() if k.startswith("corpus.")) for r in rounds]
        return {"corpus.docs_per_s": (self.size["n_docs"] / median(passes), "1/s")}

    def layer_extras(self, ctx) -> dict:
        """candidate_precision: MinHash candidate pairs whose word-3-gram
        Jaccard reaches ``CONFIRM_JACCARD``, over all candidate pairs."""
        from embeddinghub_spark.functions.dedup import minhash_duplicate_pairs

        spark = ctx.spark
        docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        pairs = minhash_duplicate_pairs(docs).collect()
        texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}

        def grams(t: str) -> set:
            toks = t.lower().split()
            return {tuple(toks[i:i + 3]) for i in range(max(1, len(toks) - 2))}

        confirmed = 0
        for p in pairs:
            a, b = grams(texts[p["id_a"]]), grams(texts[p["id_b"]])
            if len(a & b) >= CONFIRM_JACCARD * len(a | b):
                confirmed += 1
        return {"functions.dedup.candidate_precision": confirmed / len(pairs) if pairs else 0.0}

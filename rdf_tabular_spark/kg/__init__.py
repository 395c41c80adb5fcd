"""Source-code knowledge-graph construction at 10^12-file scale (north rule).

Stages (SURVEY.md §3 "Spark lifecycle equivalent"):

1. synth    — deterministic synthetic (repo, path, commit, lang, content)
              table (tests/bench input; production reads Iceberg).
2. extract  — mapInPandas off the scan (or after an optional
              repartitionByRange(repo, path)): per-file tabular-structure
              extraction (imports / symbols / manifest rows) with per-file
              row numbering, plus one file row per file carrying the
              JVM-computed content_sha256 invariant.
3. annotate — CSVW-style virtual-table annotations compile extracted rows
              into candidate triples with pure column expressions.
4. link     — minhash-LSH blocking + Jaccard rescoring + canonical-IRI
              election; broadcast canonicalization of the mention rows.
5. assemble — the final triple set, without a triple-level dedup shuffle.
6. pipeline — the one definition of the batch job (source -> extract ->
              labels -> entities -> graph), checkpointed and resumable
              (KGPipeline) or persisted in-session (build_kg).
"""

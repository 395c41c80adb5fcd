"""Stage 2: CSVW-style annotation of extracted structures -> candidate
triples.

Each extraction kind is a *virtual table* whose annotation mirrors the CSVW
column model — aboutUrl/propertyUrl/valueUrl templates over stable IRIs
(reference: the template machinery of metadata.rb:1950-1962, re-applied to
the source-code domain per the north rule). All emission is pure column
expressions (percent-encoded concat — exactly what compile_template
generates for ``{var}`` forms), exploded into the standard triple schema.

IRI scheme (deterministic — resumable/idempotent):
  repo entity   kg:repo/<repo>
  file entity   kg:file/<repo>/<path>
  module entity kg:mod/<normalized name>        (linked/canonicalized later)
  symbol entity kg:sym/<repo>/<name>
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import TRIPLE_COLUMNS
from ..csvw.datatypes import RDF_TYPE, XSD

KG = "http://rdf-tabular-spark.dev/kg#"
KGI = "http://rdf-tabular-spark.dev/kg/"


def _enc(c: Column) -> Column:
    # RFC3986-ish percent-encode, JVM-side (same patch-up as templates.py)
    e = F.url_encode(c)
    e = F.replace(e, F.lit("+"), F.lit("%20"))
    return F.replace(e, F.lit("%2F"), F.lit("/"))


def repo_iri(repo: Column) -> Column:
    return F.concat(F.lit(KGI + "repo/"), _enc(repo))


def file_iri(repo: Column, path: Column) -> Column:
    return F.concat(F.lit(KGI + "file/"), _enc(repo), F.lit("/"), _enc(path))


def module_iri(name: Column) -> Column:
    return F.concat(F.lit(KGI + "mod/"), _enc(name))


def symbol_iri(repo: Column, name: Column) -> Column:
    return F.concat(F.lit(KGI + "sym/"), _enc(repo), F.lit("/"), _enc(name))


def _t(subj, pred, obj, is_iri=True, dt=None, lang=None) -> Column:
    return F.struct(
        subj.cast("string").alias("subj"),
        (F.lit(pred) if isinstance(pred, str) else pred).cast("string").alias("pred"),
        (F.lit(obj) if isinstance(obj, str) else obj).cast("string").alias("obj"),
        F.lit(is_iri).alias("obj_is_iri"),
        F.lit(dt).cast("string").alias("obj_datatype"),
        F.lit(lang).cast("string").alias("obj_lang"),
    )


def file_level_triples(files: DataFrame) -> DataFrame:
    """Per-file triples from a (repo, path, commit, lang, content_sha256)
    table (the source, or ``extract.unpack_files``) — no shuffle, and
    **unique by construction** (one bundle per distinct file IRI):
    type/containment/lang/commit/sha256. Repo-level triples come from
    :func:`repo_triples` so they are emitted once per repo, not once per
    file (a hot monorepo would otherwise push 10^7 duplicate rows into the
    set-dedup shuffle)."""
    repo, path = F.col("repo"), F.col("path")
    f_iri, r_iri = file_iri(repo, path), repo_iri(repo)
    arr = F.array(
        _t(f_iri, RDF_TYPE, KG + "File"),
        _t(f_iri, KG + "inRepo", r_iri),
        _t(f_iri, KG + "path", path, is_iri=False),
        _t(f_iri, KG + "lang", F.col("lang"), is_iri=False),
        _t(f_iri, KG + "commit", F.col("commit"), is_iri=False),
        _t(f_iri, KG + "sha256", F.col("content_sha256"), is_iri=False,
           dt=XSD + "hexBinary"),
    )
    return (
        files.select(F.explode(arr).alias("t"))
        .select(*[F.col(f"t.{c}").alias(c) for c in TRIPLE_COLUMNS])
    )


def repo_triples(source: DataFrame) -> DataFrame:
    """(repo, rdf:type, kg:Repository) from the DISTINCT repo set — a
    map-side-combined distinct over short strings, so repo-level facts
    enter the graph once per repo."""
    r_iri = repo_iri(F.col("repo"))
    return source.select("repo").distinct().select(
        r_iri.alias("subj"),
        F.lit(RDF_TYPE).alias("pred"),
        F.lit(KG + "Repository").alias("obj"),
        F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
    )


def module_metadata_triples(extracted: DataFrame) -> DataFrame:
    """Module type/mention/versionSpec triples from the DISTINCT mention
    vocabulary, not per occurrence — at web scale ``import os`` appears
    10^9 times but is one entity, so these facts must never ride the
    per-occurrence stream into the set-dedup shuffle."""
    names = (
        extracted.filter(F.col("kind").isin("import", "dep"))
        .select("name").distinct()
    )
    m_iri = module_iri(F.col("name"))
    meta = names.select(F.explode(F.array(
        _t(m_iri, RDF_TYPE, KG + "Module"),
        _t(m_iri, KG + "mention", F.col("name"), is_iri=False),
    )).alias("t")).select(*[F.col(f"t.{c}").alias(c) for c in TRIPLE_COLUMNS])
    versions = (
        extracted.filter((F.col("kind") == "dep") & F.col("detail").isNotNull())
        .select("name", "detail").distinct()
        .select(
            module_iri(F.col("name")).alias("subj"),
            F.lit(KG + "versionSpec").alias("pred"),
            F.col("detail").alias("obj"),
            F.lit(False).alias("obj_is_iri"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
        )
    )
    return meta.unionByName(versions)


def edge_triples(extracted: DataFrame) -> DataFrame:
    """Per-occurrence edge triples (file->module, file->symbol + symbol
    metadata). Module metadata lives in :func:`module_metadata_triples`;
    feed this a stream pre-deduplicated on (repo, path, kind, name) so the
    only duplicates left for the final set-dedup are canonicalization
    collisions."""
    repo, path, name = F.col("repo"), F.col("path"), F.col("name")
    f_iri = file_iri(repo, path)
    s_iri = symbol_iri(repo, name)
    m_iri = module_iri(name)

    # exactly ONE triple per edge row -> build the struct directly with a
    # CASE instead of exploding a 1-element array: no CreateArray alloc and
    # no GenerateExec in a stage that sees ~10^10 rows at production scale
    # (file_level_triples keeps explode — there the fan-out is real, 1->6)
    t = (
        F.when(F.col("kind") == "import", _t(f_iri, KG + "imports", m_iri))
        .when(F.col("kind") == "dep", _t(f_iri, KG + "dependsOn", m_iri))
        .when(F.col("kind").isin("def", "class"), _t(f_iri, KG + "defines", s_iri))
    )
    return (
        extracted.select(t.alias("t"))
        .filter(F.col("t").isNotNull())  # safety: unknown kinds emit nothing
        .select(*[F.col(f"t.{c}").alias(c) for c in TRIPLE_COLUMNS])
    )


def symbol_metadata_triples(extracted: DataFrame) -> DataFrame:
    """Symbol type/name/atIndex facts from DISTINCT sets. Symbol IRIs are
    repo-scoped (``kg:sym/<repo>/<name>``), so a popular symbol name is one
    entity per repo no matter how many files define it — its facts must not
    ride the per-occurrence stream into a dedup shuffle."""
    defs = extracted.filter(F.col("kind").isin("def", "class"))
    s_iri = symbol_iri(F.col("repo"), F.col("name"))
    type_name = (
        defs.select("repo", "name", "kind").distinct()
        .select(F.explode(F.array(
            _t(s_iri, RDF_TYPE,
               F.when(F.col("kind") == "class", F.lit(KG + "Class"))
               .otherwise(F.lit(KG + "Function"))),
            _t(s_iri, KG + "name", F.col("name"), is_iri=False),
        )).alias("t"))
        .select(*[F.col(f"t.{c}").alias(c) for c in TRIPLE_COLUMNS])
        # the name triple duplicates when a name is both def and class
        .dropDuplicates(TRIPLE_COLUMNS)
    )
    at_index = (
        defs.select("repo", "name", "row_idx").distinct()
        .select(
            symbol_iri(F.col("repo"), F.col("name")).alias("subj"),
            F.lit(KG + "atIndex").alias("pred"),
            F.col("row_idx").cast("string").alias("obj"),
            F.lit(False).alias("obj_is_iri"),
            F.lit(XSD + "integer").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
        )
    )
    return type_name.unionByName(at_index)


def structure_triples(extracted: DataFrame) -> DataFrame:
    """Extracted structure rows -> candidate triples (mention-level: module
    objects use the *raw mention* IRI; stage 3 canonicalizes them).

    Composition of :func:`edge_triples` + per-entity metadata — the
    pipeline uses the parts directly so per-entity facts skip the
    per-occurrence stream."""
    return edge_triples(extracted).unionByName(
        module_metadata_triples(extracted)).unionByName(
        symbol_metadata_triples(extracted))

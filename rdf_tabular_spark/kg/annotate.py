"""Stage 2: CSVW-style annotation of extracted structures -> candidate
triples.

Each extraction kind is a *virtual table* whose annotation mirrors the CSVW
column model — aboutUrl/propertyUrl/valueUrl templates over stable IRIs
(reference: the template machinery of metadata.rb:1950-1962, re-applied to
the source-code domain per the north rule). Like csv2rdf's emission, the
IRIs and triples are Spark SQL text (:mod:`..expr`): every triple is an
``operators.emit.triple`` struct and each projection crosses the py4j
bridge once (``operators.emit.triple_rows``).

IRI scheme (deterministic — resumable/idempotent):
  repo entity   kg:repo/<repo>
  file entity   kg:file/<repo>/<path>
  module entity kg:mod/<normalized name>        (linked/canonicalized later)
  symbol entity kg:sym/<repo>/<name>

KG IRIs percent-encode with ``url_encode`` plus two patch-ups (``+`` ->
``%20``, ``%2F`` -> ``/``); this is not ``csvw.templates.pct_encode``, and
changing it would change every KG IRI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import TRIPLE_COLUMNS
from .. import expr as S
from ..csvw.datatypes import RDF_TYPE, XSD
from ..expr import Expr
from ..operators.emit import triple, triple_rows

KG = "http://rdf-tabular-spark.dev/kg#"
KGI = "http://rdf-tabular-spark.dev/kg/"


def _enc(c: Expr) -> Expr:
    return S.replace(S.replace(S.url_encode(c), "+", "%20"), "%2F", "/")


def repo_iri(repo: Expr) -> Expr:
    return S.concat(KGI + "repo/", _enc(repo))


def file_iri(repo: Expr, path: Expr) -> Expr:
    return S.concat(KGI + "file/", _enc(repo), "/", _enc(path))


def module_iri(name: Expr) -> Expr:
    return S.concat(KGI + "mod/", _enc(name))


def symbol_iri(repo: Expr, name: Expr) -> Expr:
    return S.concat(KGI + "sym/", _enc(repo), "/", _enc(name))


def file_level_triples(files: DataFrame) -> DataFrame:
    """Per-file triples from a (repo, path, commit, lang, content_sha256)
    table (the source, or ``extract.unpack_files``) — no shuffle, and
    **unique by construction** (one bundle per distinct file IRI):
    type/containment/lang/commit/sha256. Repo-level triples come from
    :func:`repo_triples` so they are emitted once per repo, not once per
    file (a hot monorepo would otherwise push 10^7 duplicate rows into the
    set-dedup shuffle)."""
    repo, path = S.col("repo"), S.col("path")
    f_iri = file_iri(repo, path)
    return triple_rows(files, S.explode(S.array(
        triple(f_iri, RDF_TYPE, KG + "File", is_iri=True),
        triple(f_iri, KG + "inRepo", repo_iri(repo), is_iri=True),
        triple(f_iri, KG + "path", path, is_iri=False),
        triple(f_iri, KG + "lang", S.col("lang"), is_iri=False),
        triple(f_iri, KG + "commit", S.col("commit"), is_iri=False),
        triple(f_iri, KG + "sha256", S.col("content_sha256"), is_iri=False,
               dt=S.lit(XSD + "hexBinary")),
    )))


def repo_triples(source: DataFrame) -> DataFrame:
    """(repo, rdf:type, kg:Repository) from the DISTINCT repo set — a
    map-side-combined distinct over short strings, so repo-level facts
    enter the graph once per repo."""
    return triple_rows(
        source.select("repo").distinct(),
        triple(repo_iri(S.col("repo")), RDF_TYPE, KG + "Repository",
               is_iri=True))


def edge_triples(extracted: DataFrame) -> DataFrame:
    """Per-occurrence edge triples (file->module, file->symbol). Module
    metadata comes from the label map (``link.module_metadata_from_labels``)
    and symbol metadata from :func:`symbol_metadata_triples`; feed this a
    stream pre-deduplicated on (repo, path, kind, name) so the only
    duplicates left for the final set-dedup are canonicalization
    collisions."""
    repo, name, kind = S.col("repo"), S.col("name"), S.col("kind")
    f_iri = file_iri(repo, S.col("path"))
    m_iri = module_iri(name)

    # exactly ONE triple per edge row -> build the struct directly with a
    # CASE instead of exploding a 1-element array: no CreateArray alloc and
    # no GenerateExec in a stage that sees ~10^10 rows at production scale
    # (file_level_triples keeps explode — there the fan-out is real, 1->6)
    t = (
        S.when(kind == "import",
               triple(f_iri, KG + "imports", m_iri, is_iri=True))
        .when(kind == "dep",
              triple(f_iri, KG + "dependsOn", m_iri, is_iri=True))
        .when(kind.isin("def", "class"),
              triple(f_iri, KG + "defines", symbol_iri(repo, name),
                     is_iri=True))
    )
    # unknown kinds get a NULL struct and emit nothing
    return triple_rows(
        extracted.selectExpr(t.alias("t").sql).filter("t IS NOT NULL"),
        S.col("t"))


def symbol_metadata_triples(extracted: DataFrame) -> DataFrame:
    """Symbol type/name/atIndex facts from DISTINCT sets. Symbol IRIs are
    repo-scoped (``kg:sym/<repo>/<name>``), so a popular symbol name is one
    entity per repo no matter how many files define it — its facts must not
    ride the per-occurrence stream into a dedup shuffle."""
    defs = extracted.filter(S.col("kind").isin("def", "class").sql)
    s_iri = symbol_iri(S.col("repo"), S.col("name"))
    kind_class = S.when(S.col("kind") == "class", KG + "Class") \
        .otherwise(KG + "Function")
    type_name = triple_rows(
        defs.select("repo", "name", "kind").distinct(),
        S.explode(S.array(
            triple(s_iri, RDF_TYPE, kind_class, is_iri=True),
            triple(s_iri, KG + "name", S.col("name"), is_iri=False),
        ))
    # the name triple duplicates when a name is both def and class
    ).dropDuplicates(TRIPLE_COLUMNS)
    at_index = triple_rows(
        defs.select("repo", "name", "row_idx").distinct(),
        triple(s_iri, KG + "atIndex", S.col("row_idx"), is_iri=False,
               dt=S.lit(XSD + "integer")))
    return type_name.unionByName(at_index)


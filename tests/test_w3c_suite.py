"""W3C CSVW conformance-suite runner (suite_spec.rb:12-14 /
suite_helper.rb analog).

The reference runs four manifests (rdf/json/validation/nonnorm) from a
local mirror of http://www.w3.org/2013/csvw/tests/. That mirror is NOT in
this sandbox (the gem fetched it over the network; see
BASELINE.md "W3C conformance"), so this runner:

1. always executes ``tests/w3c/manifest.jsonld`` — a locally-authored
   manifest in the exact W3C entry vocabulary (csvt:ToRdfTest /
   csvt:ToJsonTest / csvt:{Positive,Negative,Warning}ValidationTest,
   action/result/implicit/option) over the reference's own spec/data
   fixtures; and
2. if ``$CSVW_TESTS_DIR`` points at a mirror of the official suite, also
   parametrizes over every entry of its ``manifest-rdf.jsonld`` /
   ``manifest-json.jsonld`` / ``manifest-validation.jsonld`` (Rejected
   entries skipped, like the reference).

Drop a mirror in and the same assertions run the real suite — the runner
is the deliverable; the local manifest keeps it exercised without network.
"""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import FIXTURE_DIR, REFERENCE_DIR, needs_reference
from tests.ttl import compare_graphs, parse_ttl, spark_triples

BASE = "http://example.org/"

#: validation kinds that constitute ERRORS (warnings excluded)
ERROR_KINDS = {"cell", "pk_duplicate", "fk_missing", "fk_duplicate_target",
               "schema_incompatible", "metadata_error", "scan"}


def _load_manifest(path: str, data_dir: str, base: str):
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    entries = []
    for e in doc.get("entries", []):
        if "Rejected" in str(e.get("approval", "")):
            continue  # suite_spec.rb:19
        entries.append((e, data_dir, base))
    return entries


def _collect_entries():
    here = os.path.join(os.path.dirname(__file__), "w3c")
    out = _load_manifest(
        os.path.join(here, "manifest.jsonld"), FIXTURE_DIR, BASE)
    # r3: locally-authored spec-corner entries (dialect combos, UAX-35
    # shifts, composite FKs, exotic datatypes + facets, templates,
    # null/default/list interplay) — hand-derived goldens standing in for
    # the network-only official manifests
    out += _load_manifest(
        os.path.join(here, "extra", "manifest-extra.jsonld"),
        os.path.join(here, "extra"), "http://example.org/x/")
    # r3: the reference's own etc/doap golden (gem-generated, Rakefile:65)
    out += _load_manifest(
        os.path.join(here, "manifest-etc.jsonld"),
        os.path.join(FIXTURE_DIR, "..", "..", "etc"), BASE)
    mirror = os.environ.get("CSVW_TESTS_DIR")
    if mirror:
        for variant in ("rdf", "json", "validation"):
            mpath = os.path.join(mirror, f"manifest-{variant}.jsonld")
            if os.path.isfile(mpath):
                out.extend(_load_manifest(
                    mpath, mirror, "http://www.w3.org/2013/csvw/tests/"))
    return out


ENTRIES = [
    pytest.param(*e, id=e[0]["id"].split("#")[-1],
                 marks=needs_reference if e[1].startswith(REFERENCE_DIR)
                 else ())
    for e in _collect_entries()]


_URL_MAPS: dict[tuple[str, str], dict[str, str]] = {}


def _url_map(data_dir: str, base: str) -> dict[str, str]:
    """base+relative-path -> local file for every fixture under the data
    dir (the W3C suite lays files out exactly as their URLs)."""
    key = (data_dir, base)
    if key not in _URL_MAPS:
        m: dict[str, str] = {}
        for root, _dirs, files in os.walk(data_dir):
            for fn in files:
                p = os.path.join(root, fn)
                rel = os.path.relpath(p, data_dir).replace(os.sep, "/")
                m[base + rel] = p
        _URL_MAPS[key] = m
    return _URL_MAPS[key]


@pytest.mark.parametrize("entry,data_dir,base", ENTRIES)
def test_w3c_entry(spark, entry, data_dir, base):
    from rdf_tabular_spark.reader import to_json, to_triples, validate

    etype = entry["type"].split(":")[-1]
    opts = entry.get("option", {}) or {}
    action = entry["action"]
    action_path = os.path.join(data_dir, action)
    entry_base = entry.get("option", {}).get("base", base + action)
    mode = "minimal" if opts.get("minimal") else "standard"
    metadata_opt = opts.get("metadata")
    if metadata_opt:
        # user-metadata option: highest-precedence discovery step
        meta_arg: str | dict = os.path.join(data_dir, metadata_opt)
    else:
        meta_arg = action_path

    if etype == "ToRdfTest":
        result = to_triples(spark, meta_arg, base=entry_base,
                            search_dir=data_dir, mode=mode,
                            url_map=_url_map(data_dir, base))
        ours = spark_triples(result.triples)
        with open(os.path.join(data_dir, entry["result"]),
                  encoding="utf-8") as f:
            golden = parse_ttl(f.read())
        report = compare_graphs(ours, golden)
        assert report["precision"] >= 0.95 and report["recall"] >= 0.95, (
            entry["id"], report)
    elif etype == "ToJsonTest":
        got = to_json(spark, meta_arg, base=entry_base,
                      search_dir=data_dir, mode=mode,
                      url_map=_url_map(data_dir, base))
        with open(os.path.join(data_dir, entry["result"]),
                  encoding="utf-8") as f:
            want = json.load(f)
        assert got == want, entry["id"]
    elif etype in ("PositiveValidationTest", "WarningValidationTest",
                   "NegativeValidationTest"):
        problems = validate(spark, meta_arg, base=entry_base,
                            search_dir=data_dir,
                            url_map=_url_map(data_dir, base))
        rows = problems.collect()
        errors = [r for r in rows if r["kind"] in ERROR_KINDS]
        if etype == "NegativeValidationTest":
            assert errors, entry["id"]
        else:
            assert not errors, (entry["id"], errors[:5])
            if etype == "WarningValidationTest":
                warns = [r for r in rows if r["kind"] not in ERROR_KINDS]
                assert warns, (entry["id"], "expected warnings")
    else:
        pytest.skip(f"unsupported entry type {entry['type']}")

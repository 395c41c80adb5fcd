"""Seeded input generators for the benchmark workloads.

Everything here is plain Python: the same (seed, size) gives byte-identical
inputs, and the expected outputs the checks compare against are derived
from the generated values, never from the engine under test.
"""

from __future__ import annotations

import hashlib
import random

BASE = "http://example.org/data/"
TABLE_URL = BASE + "lineitem.csv"
NS = "http://example.org/ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
TAGS = ["fragile", "bulk", "express", "insured", "hazmat", "oversize",
        "return", "gift", "priority", "sample"]
WORDS = ["carefully", "final", "deposits", "sleep", "quickly", "ironic",
         "packages", "along", "the", "furiously", "regular", "accounts",
         "bold", "pinto", "beans", "haggle", "slyly", "express", "requests"]

METADATA = {
    "@context": "http://www.w3.org/ns/csvw",
    "url": "lineitem.csv",
    "tableSchema": {
        "columns": [
            {"name": "l_orderkey", "titles": "l_orderkey",
             "datatype": "integer", "propertyUrl": NS + "order"},
            {"name": "l_linenumber", "titles": "l_linenumber",
             "datatype": "integer"},
            {"name": "l_partkey", "titles": "l_partkey", "datatype": "integer",
             "propertyUrl": NS + "part",
             "valueUrl": "http://example.org/part/{l_partkey}"},
            {"name": "l_quantity", "titles": "l_quantity",
             "datatype": "integer"},
            {"name": "l_extendedprice", "titles": "l_extendedprice",
             "datatype": {"base": "decimal",
                          "format": {"pattern": "#,##0.00"}}},
            {"name": "l_discount", "titles": "l_discount",
             "datatype": {"base": "decimal", "format": {"pattern": "#0%"}}},
            {"name": "l_shipdate", "titles": "l_shipdate",
             "datatype": {"base": "date", "format": "dd.MM.yyyy"}},
            {"name": "l_shipmode", "titles": "l_shipmode",
             "datatype": "string"},
            {"name": "l_tags", "titles": "l_tags", "separator": ";",
             "datatype": "string"},
            {"name": "l_comment", "titles": "l_comment",
             "datatype": "string"},
            {"name": "type", "virtual": True, "propertyUrl": "rdf:type",
             "valueUrl": NS + "LineItem"},
        ],
        "primaryKey": ["l_orderkey", "l_linenumber"],
        "aboutUrl": "http://example.org/lineitem/{l_orderkey}-{l_linenumber}",
    },
}

HEADER = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_shipdate", "l_shipmode",
          "l_tags", "l_comment"]


def lineitem_rows(seed: int, n_rows: int) -> list[dict]:
    """n_rows lineitem-shaped records with unique (orderkey, linenumber).

    Orders hold 1-7 lines; order keys are sparse and increasing, so the
    primary key is unique by construction."""
    rng = random.Random(f"lineitem|{seed}")
    rows: list[dict] = []
    orderkey = 0
    while len(rows) < n_rows:
        orderkey += rng.randint(1, 4)
        for line in range(1, rng.randint(1, 7) + 1):
            if len(rows) == n_rows:
                break
            rows.append({
                "l_orderkey": orderkey,
                "l_linenumber": line,
                "l_partkey": rng.randint(1, 200_000),
                "l_quantity": rng.randint(1, 50),
                "price_cents": rng.randint(90_000, 10_494_950),
                "discount_pct": rng.randint(0, 10),
                "shipdate": (rng.randint(1992, 1998), rng.randint(1, 12),
                             rng.randint(1, 28)),
                "l_shipmode": rng.choice(SHIPMODES),
                "tags": rng.sample(TAGS, rng.randint(1, 3)),
                "comment": " ".join(rng.choice(WORDS)
                                    for _ in range(rng.randint(2, 6))),
            })
    return rows


def _price_text(cents: int) -> str:
    return f"{cents // 100:,}.{cents % 100:02d}"


def _csv_field(text: str) -> str:
    if any(ch in text for ch in ',"\n'):
        return '"' + text.replace('"', '""') + '"'
    return text


def lineitem_csv(rows: list[dict]) -> str:
    out = [",".join(HEADER)]
    for r in rows:
        y, m, d = r["shipdate"]
        fields = [str(r["l_orderkey"]), str(r["l_linenumber"]),
                  str(r["l_partkey"]), str(r["l_quantity"]),
                  _price_text(r["price_cents"]), f"{r['discount_pct']}%",
                  f"{d:02d}.{m:02d}.{y:04d}", r["l_shipmode"],
                  ";".join(r["tags"]), r["comment"]]
        out.append(",".join(_csv_field(f) for f in fields))
    return "\n".join(out) + "\n"


# --- expected outputs, from the CSVW csv2rdf / csv2json rules ---------------

def _decimal_lex(units: int, scale: int) -> str:
    """xsd:decimal lexical of ``units / 10**scale`` as the UAX-35 parse
    keeps it: grouping removed and, for a percent, the point moved two
    places, with the fraction digits of the source text (``0.10``)."""
    whole, frac = divmod(units, 10 ** scale)
    return f"{whole}.{frac:0{scale}d}"


def _subject(r: dict) -> str:
    return f"http://example.org/lineitem/{r['l_orderkey']}-{r['l_linenumber']}"


def expected_ntriples(r: dict) -> list[str]:
    """The N-Triples lines csv2rdf (minimal mode) must emit for row *r*."""
    s = f"<{_subject(r)}>"
    y, m, d = r["shipdate"]

    def lit(pred: str, lex: str, dt: str | None = None) -> str:
        suffix = f"^^<{XSD}{dt}>" if dt else ""
        return f'{s} <{pred}> "{lex}"{suffix} .'

    col = TABLE_URL + "#"
    lines = [
        lit(NS + "order", str(r["l_orderkey"]), "integer"),
        lit(col + "l_linenumber", str(r["l_linenumber"]), "integer"),
        f"{s} <{NS}part> <http://example.org/part/{r['l_partkey']}> .",
        lit(col + "l_quantity", str(r["l_quantity"]), "integer"),
        lit(col + "l_extendedprice", _decimal_lex(r["price_cents"], 2),
            "decimal"),
        lit(col + "l_discount", _decimal_lex(r["discount_pct"], 2),
            "decimal"),
        lit(col + "l_shipdate", f"{y:04d}-{m:02d}-{d:02d}", "date"),
        lit(col + "l_shipmode", r["l_shipmode"]),
        lit(col + "l_comment", r["comment"]),
        f"{s} <{RDF_TYPE}> <{NS}LineItem> .",
    ]
    lines += [lit(col + "l_tags", t) for t in r["tags"]]
    return lines


def triples_per_row(r: dict) -> int:
    """len(expected_ntriples(r)) without building the lines."""
    return 10 + len(r["tags"])


def sample_indexes(seed: int, n_rows: int, k: int) -> list[int]:
    rng = random.Random(f"sample|{seed}")
    return sorted(rng.sample(range(n_rows), min(k, n_rows)))


# --- KG source table ---------------------------------------------------------

KG_LANGS = ["python", "ruby", "javascript", "json"]
_EXT = {"python": "py", "ruby": "rb", "javascript": "js", "json": "json"}
_SYLLABLES = ["ar", "bel", "cor", "dan", "el", "fin", "gor", "hal", "ix",
              "jun", "kel", "lom", "mar", "nor", "ost", "pel", "quin", "ros",
              "sul", "tor", "ul", "vex", "wen", "xor", "yul", "zen"]


def module_vocab(seed: int, n_bases: int) -> list[list[str]]:
    """n_bases module families; each family is a base name plus
    near-duplicate spellings (separator swaps, a case change, a suffix) that
    the linker should merge into one entity."""
    rng = random.Random(f"vocab|{seed}")
    seen: set[str] = set()
    families: list[list[str]] = []
    while len(families) < n_bases:
        parts = [rng.choice(_SYLLABLES) + rng.choice(_SYLLABLES)
                 for _ in range(rng.randint(2, 3))]
        base = "_".join(parts)
        if base in seen:
            continue
        seen.add(base)
        variants = [base, ".".join(parts), "-".join(parts),
                    "_".join(parts[:-1]) + "_" + parts[-1].upper(),
                    base + "s"]
        families.append(variants[:rng.randint(2, 5)])
    return families


def _mention_for(lang: str, name: str) -> str:
    # python identifiers cannot hold '-' or '/': those spellings use '.'
    if lang == "python":
        return name.replace("-", ".").replace("/", ".")
    return name


def _content(rng: random.Random, lang: str, mods: list[str],
             i: int) -> str:
    defs = [f"{rng.choice(_SYLLABLES)}{rng.choice(_SYLLABLES)}_{k}"
            for k in range(rng.randint(1, 4))]
    if lang == "python":
        lines = [f"import {m}" if k % 2 else f"from {m} import load"
                 for k, m in enumerate(mods)]
        lines += [f"def {d}(x):\n    return x" for d in defs]
    elif lang == "ruby":
        lines = [f"require '{m}'" for m in mods]
        lines += [f"def {d}(x)\n  x\nend" for d in defs]
    elif lang == "javascript":
        lines = [f"const m{k} = require('{m}');" for k, m in enumerate(mods)]
        lines += [f"function {d}(x) {{ return x; }}" for d in defs]
    else:
        deps = ",\n".join(f'    "{m}": "^{k + 1}.{i % 20}.0"'
                          for k, m in enumerate(mods))
        lines = ["{", f'  "name": "pkg-{i}",', '  "dependencies": {', deps,
                 "  }", "}"]
    return "\n".join(lines) + "\n"


def kg_source(seed: int, n_files: int, n_bases: int) -> dict[str, list]:
    """Column dict (repo, path, commit, lang, content) of a seeded source
    code corpus whose import/dependency mentions are drawn from
    :func:`module_vocab`."""
    rng = random.Random(f"kgsource|{seed}")
    families = module_vocab(seed, n_bases)
    n_repos = max(4, n_files // 100)
    cols: dict[str, list] = {c: [] for c in
                             ("repo", "path", "commit", "lang", "content")}
    for i in range(n_files):
        lang = KG_LANGS[rng.randrange(len(KG_LANGS))]
        mods = [_mention_for(lang, rng.choice(rng.choice(families)))
                for _ in range(rng.randint(2, 6))]
        cols["repo"].append(f"repo-{rng.randrange(n_repos):04d}")
        cols["path"].append(
            f"src/{rng.randrange(20):02d}/file_{i}.{_EXT[lang]}")
        cols["commit"].append(
            hashlib.sha1(f"{seed}|commit|{i}".encode()).hexdigest())
        cols["lang"].append(lang)
        cols["content"].append(_content(rng, lang, mods, i))
    return cols


def generator_hash() -> str:
    """Hash of this module's source: part of every cached input's key, so
    a generator change never reuses inputs made by the old one."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]

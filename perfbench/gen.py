"""Seeded input generators for the benchmark workloads.

Every generator is pure Python driven by ``random.Random(seed)``: the same
seed gives byte-identical files on any machine, and nothing here calls the
program under test, so a change to the program cannot change its inputs.
Each generator returns the counts the workload's output checks compare
against (``expected``), derived from what it generated.
"""

from __future__ import annotations

import csv
import io
import json
import random

EX = "http://example.org/"
NS = EX + "ns#"

# --------------------------------------------------------------------------
# POST /csvw2rdf: one CSV table + its CSVW descriptor
# --------------------------------------------------------------------------

#: (name, CSVW datatype, lexical forms that datatype rejects)
ITEM_COLUMNS = (
    ("k1", "integer", ()),
    ("k2", "integer", ()),
    ("price", "decimal", ("12.3.4", "1,5e", "--2")),
    ("qty", "integer", ("n/a", "7.5", "1e3")),
    ("active", "boolean", ("maybe", "yes", "2")),
    ("updated", "datetime", ("2024-13-45T99:00:00", "yesterday",
                             "2024-02-30T10:00:00")),
    ("code", "string", ()),
    ("note", "string", ()),
)
_KEYS = 2                  # k1, k2: never empty, used by the aboutUrl
EMPTY_RATE = 0.02
INVALID_RATE = 0.01

# free-text words: CSV delimiters/quotes, N-Triples escapes, non-ASCII
_WORDS = ("alpha", "beta", "gamma", "delta", "said", '"quoted"', "a,b",
          "back\\slash", "tab\there", "café", "Zürich", "東京", "naïve",
          "x" * 12, "it's", "50%", "<tag>", "a;b")


def _valid_cell(rng: random.Random, name: str, i: int) -> str:
    if name == "k1":
        return str(i // 1000)
    if name == "k2":
        return str(i % 1000)
    if name == "price":
        return f"{rng.randint(0, 99999)}.{rng.randint(0, 99):02d}"
    if name == "qty":
        return str(rng.randint(-500, 5000))
    if name == "active":
        return rng.choice(("true", "false", "1", "0"))
    if name == "updated":
        return (f"20{rng.randint(10, 29)}-{rng.randint(1, 12):02d}-"
                f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
                f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}")
    if name == "code":
        return f"{rng.choice('ABCDEFGH')}{rng.choice('XYZ')}-{rng.randint(0, 9999):04d}"
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 12)))


def item_rows(seed: int, n_rows: int, first_row: int = 0):
    """→ (rows, non-empty cell count). Every non-empty cell, valid or not,
    is one triple in minimal mode; an empty cell is null and emits none."""
    rng = random.Random(seed)
    rows, cells = [], 0
    for i in range(first_row, first_row + n_rows):
        row = []
        for j, (name, _dt, bad) in enumerate(ITEM_COLUMNS):
            if j >= _KEYS and rng.random() < EMPTY_RATE:
                row.append("")
                continue
            if bad and rng.random() < INVALID_RATE:
                row.append(rng.choice(bad))
            else:
                row.append(_valid_cell(rng, name, i))
            cells += 1
        rows.append(row)
    return rows, cells


def item_descriptor(csv_name: str) -> dict:
    return {
        "@context": "http://www.w3.org/ns/csvw",
        "url": csv_name,
        "tableSchema": {
            "aboutUrl": EX + "item/{k1}/{k2}",
            "columns": [{"name": n, "titles": n, "datatype": dt,
                         "propertyUrl": NS + n}
                        for n, dt, _bad in ITEM_COLUMNS],
        },
    }


def items_csv_text(rows) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow([n for n, _dt, _bad in ITEM_COLUMNS])
    w.writerows(rows)
    return buf.getvalue()


def csvw2rdf_body(seed: int, n_rows: int, first_row: int = 0) -> tuple[bytes, int]:
    """A ``POST /csvw2rdf`` JSON body (inline CSVW, N-Triples out) →
    (body, expected triples)."""
    rows, cells = item_rows(seed, n_rows, first_row)
    body = {"options": {"input": "items.csv-metadata.json",
                        "format": "ntriples", "minimal": True},
            "files": {"items.csv-metadata.json":
                      json.dumps(item_descriptor("items.csv")),
                      "items.csv": items_csv_text(rows)}}
    return json.dumps(body).encode("utf-8"), cells


# --------------------------------------------------------------------------
# POST /rdf2csvw: an N-Triples graph
# --------------------------------------------------------------------------

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"

#: per rdf:type, its predicates: (local name, object kind, multi-valued).
#: Kinds: "str" plain string, "en"/"de" language-tagged, "iri:<Type>" a
#: subject of that type, else an xsd datatype.
GRAPH_TYPES = {
    "Person": (("name", "str", False), ("age", "integer", False),
               ("bio", "en", False), ("knows", "iri:Person", True),
               ("worksFor", "iri:Organization", False)),
    "Organization": (("name", "str", False), ("founded", "date", False),
                     ("tag", "en", True)),
    "Place": (("name", "str", False), ("lat", "decimal", False),
              ("long", "decimal", False), ("label", "de", False)),
    "Product": (("name", "str", False), ("price", "decimal", False),
                ("inStock", "boolean", False), ("madeBy", "iri:Organization", False),
                ("keyword", "str", True)),
}
_TYPE_ORDER = tuple(GRAPH_TYPES)
OPTIONAL_RATE = 0.05      # a single-valued property left out of a subject

# free text for literals; a backslash is never followed by a character
# N-Triples escapes name (t, r, n, ", \), so every escape round-trips
_GRAPH_WORDS = ("alpha", "beta", '"quoted"', "a,b", "back\\slash",
                "tab\there", "line\nbreak", "café", "Zürich", "東京",
                "it's", "<tag>", "a;b", "x" * 10)


def _nt_escape(s: str) -> str:
    return (s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
            .replace("\r", "\\r").replace("\t", "\\t"))


def _graph_literal(rng: random.Random, kind: str) -> tuple[str, str]:
    """→ (N-Triples object, the lexical form rdf2csvw writes to the cell)."""
    if kind in ("str", "en", "de"):
        lex = " ".join(rng.choice(_GRAPH_WORDS) for _ in range(rng.randint(1, 5)))
        tag = "" if kind == "str" else "@" + kind
        return f'"{_nt_escape(lex)}"{tag}', lex
    if kind == "integer":
        lex = str(rng.randint(0, 99))
    elif kind == "decimal":
        lex = f"{rng.uniform(-90, 90):.4f}"
    elif kind == "boolean":
        lex = rng.choice(("true", "false"))
    else:  # date
        lex = f"{rng.randint(1900, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    return f'"{lex}"^^<{XSD}{kind}>', lex


def rdf_graph(seed: int, n_subjects: int, first: int = 0) -> tuple[str, dict]:
    """N-Triples of ``n_subjects`` typed subjects (the types in turn), each
    with the predicates of its type → (text, expected), where ``expected``
    maps each CSV file ``rdf2csvw`` writes to its rows, as sorted tuples:
    one table per type (subject IRI + its single-valued properties, in
    predicate order) and one link table per multi-valued predicate."""
    rng = random.Random(seed)
    ids = {t: [] for t in _TYPE_ORDER}
    for i in range(first, first + n_subjects):
        t = _TYPE_ORDER[i % len(_TYPE_ORDER)]
        ids[t].append(f"{EX}{t.lower()}/{i}")
    lines, tables = [], {}
    for t, props in GRAPH_TYPES.items():
        single = sorted(p for p, _k, multi in props if not multi)
        rows, links = [], {p: [] for p, _k, multi in props if multi}
        for j, subj in enumerate(ids[t]):
            lines.append(f"<{subj}> <{RDF_TYPE}> <{NS}{t}> .")
            cells = {}
            for p, kind, multi in props:
                if multi:
                    # the first subject of a type holds two values, so the
                    # predicate is multi-valued in every graph
                    n = 2 if j == 0 else rng.randint(0, 3)
                elif rng.random() < OPTIONAL_RATE:
                    continue
                else:
                    n = 1
                if kind.startswith("iri:"):
                    n = min(n, len(ids[kind[4:]]))
                objs = {}
                while len(objs) < n:
                    if kind.startswith("iri:"):
                        target = rng.choice(ids[kind[4:]])
                        objs[f"<{target}>"] = target
                    else:
                        obj, lex = _graph_literal(rng, kind)
                        objs[obj] = lex
                for obj, lex in objs.items():
                    lines.append(f"<{subj}> <{NS}{p}> {obj} .")
                    if multi:
                        links[p].append((subj, lex))
                    else:
                        cells[p] = lex
            rows.append((subj, *(cells.get(p, "") for p in single)))
        tables[f"{t}.csv"] = sorted(rows)
        for p, got in links.items():
            tables[f"{t}_{p}.csv"] = sorted(got)
    rng.shuffle(lines)
    return "\n".join(lines) + "\n", tables


def rdf2csvw_body(seed: int, n_subjects: int, first: int = 0) -> tuple[bytes, dict, int]:
    """A ``POST /rdf2csvw`` JSON body (inline N-Triples, inferred schema) →
    (body, expected rows per CSV file, triples)."""
    text, tables = rdf_graph(seed, n_subjects, first)
    body = {"options": {"input": "graph.nt"}, "files": {"graph.nt": text}}
    return json.dumps(body).encode("utf-8"), tables, text.count("\n")


# --------------------------------------------------------------------------
# kg_transcripts: a conversation-transcript table (parquet)
# --------------------------------------------------------------------------

_ENTITY_KINDS = {
    "planet": ("Mercury", "Venus", "Jupiter", "Saturn", "Neptune"),
    "metal": ("mercury", "Iron", "Copper", "Silver", "Titanium"),
    "city": ("Paris", "Berlin", "Prague", "Vienna", "Lisbon"),
    "tool": ("Spark", "Hammer", "Wrench", "Compiler", "Profiler"),
}


def kg_dictionary() -> list[tuple[str, str, list[str]]]:
    """(entity id, name, aliases). "mercury" is ambiguous (planet and
    metal), so linking has to vote. No alias ends or starts inside the words
    around an inserted alias, and detection takes the longest alias at each
    position, so every inserted alias is exactly one detected mention."""
    out = []
    for kind, names in sorted(_ENTITY_KINDS.items()):
        for name in names:
            low = name.lower()
            out.append((f"ent:{kind}/{low}", name,
                        [name, name.upper(), f"the {low} {kind}"]))
    return out


def write_transcripts(path: str, seed: int, n_convs: int,
                      max_len: int = 400, skew: float = 1.2) -> dict:
    """Parquet transcripts (conv_id, turn_idx, role, text, tool, ts) with
    Zipf-skewed conversation lengths; each turn mentions one or two
    dictionary aliases. → the counts the KG manifest must report."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    aliases = [a for _e, _n, al in kg_dictionary() for a in al]
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    mentions = tools = 0
    for cid in range(n_convs):
        n_turns = max(2, min(max_len, int(max_len / (cid + 1) ** skew) + 2))
        for t in range(n_turns):
            role = "user" if t % 2 == 0 else (
                "tool" if rng.random() < 0.2 else "assistant")
            said = [rng.choice(aliases)]
            if rng.random() < 0.5:
                said.append(rng.choice(aliases))
            mentions += len(said)
            tools += role == "tool"
            cols["conv_id"].append(f"conv-{cid}")
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(f"turn {t} discusses {' and '.join(said)} in conversation.")
            cols["tool"].append(f"tool-{rng.randint(0, 4)}" if role == "tool" else None)
            cols["ts"].append((1_700_000_000 + cid * 86400 + t * 60) * 1_000_000)
    table = pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
    })
    pq.write_table(table, path)
    turns = len(cols["conv_id"])
    # per turn: role, text, ts, turnIndex, inConversation, two rdf:type
    # (+ tool when set); per linked mention: five triples
    return {"turns": turns, "mentions": mentions, "links": mentions,
            "triples": 7 * turns + tools + 5 * mentions}

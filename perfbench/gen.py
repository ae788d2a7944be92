"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files. Inputs are written before timing starts and the
program under test only ever sees the written tables.

Two families:

- transcripts (FIXTURES.md A1): shuffled rows, a few hot conversations,
  N-Quads-escapable characters, non-ASCII text, a nullable and skewed ``tool``;
- heterogeneous, untagged JSON-LD documents: nested blank nodes, typed and
  language values, ``@set``/``@list``/``@language`` containers, named graphs,
  contexts drawn Zipf-like from a pool larger than the program's 64-entry
  context cache, symmetric blank-node gadgets, and a known set of invalid ids.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

XSD = "http://www.w3.org/2001/XMLSchema#"

ROLES = ["user", "assistant", "system", "tool"]
ROLE_WEIGHTS = [40, 40, 5, 15]
#: one dominant tool, a long tail, and mostly null
TOOLS = ["search", "python", "browser", "sql", "calculator"]
TOOL_WEIGHTS = [70, 12, 9, 6, 3]
TOOL_SHARE = 0.3
WORDS = [
    "the", "plan", "graph", "query", "result", "error", "retry", "table",
    "café", "naïve", "東京", "données", "Straße", "привет", "😀", "ok",
]
#: every character N-Quads must escape, plus a quote-heavy token
ESCAPABLES = ["\\", '"', "\t", "\n", "\r", 'say "hi"', "C:\\tmp\\x"]

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("doc", pa.string())])

_T0 = datetime(2025, 1, 1, tzinfo=timezone.utc)


def _text(rng: random.Random) -> str:
    if rng.random() < 0.02:
        return ""
    parts = [rng.choice(WORDS) for _ in range(rng.randint(3, 12))]
    if rng.random() < 0.5:
        parts.append(f"@user{int(rng.paretovariate(1.2)) % 500}")
    if rng.random() < 0.3:
        parts.append(f"https://ex.org/p/{rng.randint(0, 999)}")
    if rng.random() < 0.15:
        parts.append(rng.choice(ESCAPABLES))
    return " ".join(parts)


def _conversation(rng: random.Random, conv_id: str, n_turns: int, t0: datetime):
    rows = []
    ts = t0
    for i in range(n_turns):
        # monotone per conversation with occasional equal timestamps
        if rng.random() > 0.05:
            ts = ts + timedelta(seconds=rng.randint(1, 90), microseconds=rng.randint(0, 999))
        tool = None
        if rng.random() < TOOL_SHARE:
            tool = rng.choices(TOOLS, TOOL_WEIGHTS)[0]
        rows.append((conv_id, i, rng.choices(ROLES, ROLE_WEIGHTS)[0], _text(rng), tool, ts))
    return rows


def transcripts(seed: int, n_convs: int, mean_turns: int, hot_convs: int,
                hot_turns: int, prefix: str = "conv") -> list:
    """Rows of the transcripts table, shuffled. Conversation lengths run
    evenly over mean/2 .. 3*mean/2 in a seeded order, so every seed yields the
    same number of turns."""
    rng = random.Random(seed)
    span = mean_turns + 1
    lengths = [mean_turns // 2 + (c * span) // n_convs for c in range(n_convs)]
    rng.shuffle(lengths)
    rows: list = []
    for c, n in enumerate(lengths):
        rows += _conversation(rng, f"{prefix}-{c:06d}", n, _T0 + timedelta(hours=c))
    for h in range(hot_convs):
        rows += _conversation(rng, f"conv-hot-{h}", hot_turns, _T0 - timedelta(days=h + 1))
    rng.shuffle(rows)
    return rows


def transcript_props(rows: list) -> dict:
    hot = sum(r[0].startswith("conv-hot") for r in rows)
    return {
        "turns": len(rows),
        "conversations": len({r[0] for r in rows}),
        "hot_turn_share": round(hot / len(rows), 4),
        "tool_share": round(sum(r[4] is not None for r in rows) / len(rows), 4),
    }


def write_rows(rows: list, schema: pa.Schema, path: str, files: int) -> None:
    """Write ``rows`` as ``files`` parquet files so the scan runs in parallel."""
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


# -- JSON-LD documents -------------------------------------------------------

def _context(k: int) -> dict:
    """Context ``k`` of the pool: same term shapes, distinct IRIs, so every
    pool entry is a separate processed context."""
    v = f"https://ex.org/v{k}/"
    return {
        "@vocab": v,
        "xsd": XSD,
        "name": v + "name",
        "knows": {"@id": v + "knows", "@type": "@id"},
        "when": {"@id": v + "when", "@type": "xsd:dateTime"},
        "size": {"@id": v + "size", "@type": "xsd:integer"},
        "tags": {"@id": v + "tags", "@container": "@set"},
        "steps": {"@id": v + "steps", "@container": "@list"},
        "title": {"@id": v + "title", "@container": "@language"},
        "part": v + "part",
        "link": {"@id": v + "link", "@type": "@id"},
    }


def _node(rng: random.Random, doc_no: int, k: int) -> dict:
    """One top-level node; nested parts are blank nodes whose contents are
    distinct, so only the designed gadgets collide on first-degree hashes."""
    node = {
        "@id": f"https://ex.org/doc/{doc_no}/n{k}",
        "@type": rng.choice(["Item", "Person", "Event"]),
        "name": _text(rng) or "unnamed",
        "when": (_T0 + timedelta(minutes=rng.randint(0, 10**6))).strftime("%Y-%m-%dT%H:%M:%SZ"),
        "size": rng.randint(0, 10**6),
        "tags": [rng.choice(WORDS) + str(i) for i in range(rng.randint(0, 4))],
        "title": {"en": f"title {doc_no}.{k}", "fr": f"titre {doc_no}.{k}"},
        "note": {"@value": rng.choice(WORDS), "@language": rng.choice(["es", "de", "ja"])},
        "knows": f"https://ex.org/doc/{rng.randint(0, 10**5)}",
    }
    n_steps = rng.randint(0, 5)
    if n_steps:
        node["steps"] = [f"step {i} of {doc_no}.{k}" for i in range(n_steps)]
    parts = [
        {"name": f"part {doc_no}.{k}.{i}", "size": i,
         "part": {"name": f"sub {doc_no}.{k}.{i}"}}
        for i in range(rng.randint(0, 3))
    ]
    if parts:
        parts[0]["@id"] = f"_:p{k}"
        node["part"] = parts
    return node


def _gadget(doc_no: int) -> list:
    """Two blank nodes that are automorphic: identical first-degree hashes,
    so the document needs the exact URDNA2015 fallback."""
    return [
        {"@id": "_:g1", "name": f"gadget {doc_no}", "link": "_:g2"},
        {"@id": "_:g2", "name": f"gadget {doc_no}", "link": "_:g1"},
    ]


#: designed failures: each raises a coded JsonLdError during expansion
_INVALID = [
    lambda ctx, i: {"@context": ctx, "@id": f"https://ex.org/doc/{i}",
                    "note": {"@value": "x", "@language": "en", "@type": "xsd:string"}},
    lambda ctx, i: {"@context": ctx, "@id": f"https://ex.org/doc/{i}", "@type": 5},
    lambda ctx, i: {"@context": ctx, "@id": f"https://ex.org/doc/{i}",
                    "note": {"@value": {"nested": i}}},
]


def jsonld_docs(seed: int, n_docs: int, n_contexts: int, gadget_share: float,
                invalid_share: float) -> tuple[list, dict, set, set]:
    """(rows, input properties, invalid doc ids, gadget doc ids)."""
    rng = random.Random(seed)
    weights = [1.0 / (k + 1) ** 1.1 for k in range(n_contexts)]
    rows = []
    invalid: set = set()
    gadgets: set = set()
    used: list = []
    for i in range(n_docs):
        doc_id = f"doc-{i:06d}"
        k = rng.choices(range(n_contexts), weights)[0]
        used.append(k)
        ctx = _context(k)
        r = rng.random()
        if r < invalid_share:
            doc = rng.choice(_INVALID)(ctx, i)
            invalid.add(doc_id)
        else:
            nodes = [_node(rng, i, j) for j in range(rng.randint(1, 3))]
            if r < invalid_share + gadget_share:
                nodes[0]["part"] = nodes[0].get("part", []) + _gadget(i)
                gadgets.add(doc_id)
            if rng.random() < 0.2:
                doc = {"@context": ctx, "@id": f"https://ex.org/graph/{i}", "@graph": nodes}
            elif len(nodes) == 1:
                doc = {"@context": ctx, **nodes[0]}
            else:
                doc = {"@context": ctx, "@graph": nodes}
        rows.append((doc_id, json.dumps(doc, ensure_ascii=False)))
    distinct = len(set(used))
    props = {
        "docs": n_docs,
        "distinct_contexts": distinct,
        # documents whose context an earlier document already used
        "context_repeat_share": round((n_docs - distinct) / n_docs, 4),
        "gadget_docs": len(gadgets),
        "gadget_share": round(len(gadgets) / n_docs, 4),
        "invalid_docs": len(invalid),
        "invalid_share": round(len(invalid) / n_docs, 4),
    }
    return rows, props, invalid, gadgets

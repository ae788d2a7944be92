"""The benchmark workloads: inputs, the timed job, and its output check.

Each workload is one job a user runs, not an isolated stage:

- ``transcript_build``: ``Pipeline.run`` over skewed transcripts (assemble ->
  link -> triples -> canonicalize -> entities -> materialize);
- ``jsonld_corpus``: heterogeneous untagged JSON-LD documents through
  ``docs_to_triples`` -> ``split_quarantine`` -> ``canonicalize_triples``.

Two more jobs run only in the traced run of ``transcript_build``, on the graph
its traced build committed (see README.md for why they are not timed
workloads of their own):

- ``delta_append``: ``Pipeline.run_incremental`` over the corpus grown by 2%
  new conversations;
- ``kg_readback``: the read side of the graph: N-Quads write/read, fromRDF
  per document, corpus framing and one basic graph pattern.

Library calls go through the module attribute (``expand_stage.docs_to_triples``
rather than a name bound at import) so the traced run's wrappers see them.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from pyspark.sql import functions as F

from pyld_spark.operators import canonicalize, expand_stage, fromrdf_stage, frame_stage, kg_query
from pyld_spark.plans.pipeline import Pipeline
from pyld_spark.sources import nquads_io
from pyld_spark.transcripts import CONV_BASE, VOCAB

import gen

#: input sizes per workload; ``smoke`` is the benchmark's own smoke test
SIZES = {
    "transcript_build": {
        # hot conversations hold 1% of the turns, as in the nightly input
        "full": dict(n_convs=500, mean_turns=20, hot_convs=2, hot_turns=50),
        "smoke": dict(n_convs=50, mean_turns=10, hot_convs=1, hot_turns=50),
    },
    "jsonld_corpus": {
        "full": dict(n_docs=2000, n_contexts=160, gadget_share=0.05, invalid_share=0.01),
        "smoke": dict(n_docs=200, n_contexts=80, gadget_share=0.05, invalid_share=0.02),
    },
}
INPUT_FILES = 8
#: new conversations appended by the delta job, as a share of the corpus
DELTA_SHARE = 0.02
CHECK_SAMPLE = 24
FRAME = {"@context": {"@vocab": VOCAB}, "@type": "Conversation"}
BGP = [("?turn", VOCAB + "mentions", "?e"), ("?e", VOCAB + "label", "?label")]
TRIPLE_COLS = ["subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_language", "graph"]
STAGES = ["assemble", "link", "triples", "canonicalize", "entities", "materialize"]


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksum files excluded)."""
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names
                     if not n.endswith(".crc"))
    return total


class Inputs:
    """Generated inputs of one workload at one size, written under ``path``."""

    def __init__(self, workload: str, seed: int, size: str, path: str):
        self.seed, self.path = seed, path
        self.params = SIZES[workload][size]
        if workload == "jsonld_corpus":
            rows, self.props, self.invalid, self.gadgets = gen.jsonld_docs(seed, **self.params)
            gen.write_rows(rows, gen.DOC_SCHEMA, path, INPUT_FILES)
            self.docs = dict(rows)
            return
        # the corpus, plus the new conversations the delta job appends
        corpus = gen.transcripts(seed, **self.params)
        n_delta = max(1, round(DELTA_SHARE * self.params["n_convs"]))
        new = gen.transcripts(seed + 1, n_delta, self.params["mean_turns"], 0, 0, prefix="new")
        self.delta = {r[0] for r in new}
        rows = corpus + new
        random.Random(seed + 1).shuffle(rows)
        gen.write_rows(corpus, gen.TRANSCRIPT_SCHEMA, path, INPUT_FILES)
        gen.write_rows(rows, gen.TRANSCRIPT_SCHEMA, self.grown, INPUT_FILES)
        self.props = {**gen.transcript_props(corpus), "delta_conversations": n_delta}
        rng = random.Random(seed + 2)
        convs = sorted({r[0] for r in corpus})
        self.sample = set(rng.sample(convs, min(CHECK_SAMPLE // 4, len(convs))))
        self.sample |= set(rng.sample(sorted(self.delta), min(2, n_delta)))
        self.sample_rows = sorted((r for r in rows if r[0] in self.sample), key=lambda r: r[:2])

    @property
    def grown(self) -> str:
        return self.path + "_grown"


# -- jobs ---------------------------------------------------------------------
# A job returns {"triples": triples committed, "out": its committed outputs}.

def lineage(spark, out: str) -> dict:
    return {r.stage: r for r in Pipeline(spark, out).lineage().collect()}


def transcript_build(spark, inp: Inputs, out: str) -> dict:
    Pipeline(spark, out, run_id="bench").run(spark.read.parquet(inp.path))
    lin = lineage(spark, out)
    return {"triples": lin["materialize"].rows_out, "out": out}


def jsonld_corpus(spark, inp: Inputs, out: str) -> dict:
    docs = spark.read.parquet(inp.path)
    expand_stage.docs_to_triples(docs, id_col="doc_id", doc_col="doc").write.parquet(
        os.path.join(out, "triples"))
    good, bad = expand_stage.split_quarantine(spark.read.parquet(os.path.join(out, "triples")))
    bad.write.parquet(os.path.join(out, "quarantine"))
    canonicalize.canonicalize_triples(good).write.parquet(os.path.join(out, "canonical"))
    return {"triples": spark.read.parquet(os.path.join(out, "canonical")).count(), "out": out}


JOBS = {"transcript_build": transcript_build, "jsonld_corpus": jsonld_corpus}


def run_job(spark, workload: str, inp: Inputs, out: str) -> tuple[float, dict]:
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    res = JOBS[workload](spark, inp, out)
    return time.perf_counter() - t0, res


def delta_append(spark, inp: Inputs, out: str) -> None:
    """Append the new conversations to the graph committed in ``out``."""
    Pipeline(spark, out, run_id="delta").run_incremental(spark.read.parquet(inp.grown))


def doc_key(subj):
    """The document a read-back triple belongs to: the conversation's blank
    node namespace for conversation, turn and list nodes; the subject itself
    for corpus-global nodes (entities)."""
    conv = F.regexp_extract(subj, "^" + CONV_BASE.replace(".", "\\.") + "([^/]+)", 1)
    return (F.when(subj.startswith("_:d"), F.substring_index(subj, "_", 2))
            .when(conv != "", F.concat(F.lit("_:d"), F.substring(F.sha2(conv, 256), 1, 16)))
            .otherwise(subj))


def kg_readback(spark, graph: str, out: str) -> None:
    """Publish the graph at ``graph`` as N-Quads and serve it back: per-document
    JSON-LD, corpus framing and a basic graph pattern, all committed."""
    nq = os.path.join(out, "nquads")
    nquads_io.write_nquads(spark.read.parquet(graph), nq)
    nquads_io.read_nquads(spark, nq).write.parquet(os.path.join(out, "triples"))
    triples = (spark.read.parquet(os.path.join(out, "triples"))
               .filter(F.col("error_code").isNull()).drop("error_code")
               .withColumn("doc_id", doc_key(F.col("subj"))))
    fromrdf_stage.triples_to_documents(triples).write.parquet(os.path.join(out, "docs"))
    docs = spark.read.parquet(os.path.join(out, "docs")).select(
        F.col("doc_id").alias("conv_id"), F.col("expanded").alias("doc"))
    frame_stage.frame_corpus_stats(docs, triples, FRAME).write.parquet(os.path.join(out, "framed"))
    kg_query.bgp_match(triples, BGP).write.parquet(os.path.join(out, "bgp"))


# -- output checks ------------------------------------------------------------
# Each returns a list of failure messages; empty means the output is correct.

def _check_lineage(spark, out: str) -> list:
    lin = lineage(spark, out)
    bad = []
    for stage in STAGES:
        n = spark.read.parquet(os.path.join(out, stage)).count()
        if lin[stage].rows_out != n:
            bad.append(f"{stage}: lineage rows_out {lin[stage].rows_out} != {n} rows")
    return bad


def _check_turn_text(spark, inp: Inputs, out: str) -> list:
    """Per-turn text of the sampled conversations, in turn order, equals the
    input: in the assembled documents and in the materialized triples."""
    expected: dict = {}
    committed = {r.conv_id for r in spark.read.parquet(os.path.join(out, "assemble"))
                 .where(F.col("conv_id").isin(sorted(inp.sample))).select("conv_id").collect()}
    for conv, idx, _role, text, _tool, _ts in inp.sample_rows:
        if conv in committed or conv not in inp.delta:
            expected.setdefault(conv, []).append((idx, text))
    bad = []
    ids = sorted(expected)
    for row in (spark.read.parquet(os.path.join(out, "assemble"))
                .where(F.col("conv_id").isin(ids)).collect()):
        turns = json.loads(row.doc)["turns"]["@list"]
        got = [(t["turnIndex"], t.get("text")) for t in turns]
        if got != expected[row.conv_id]:
            bad.append(f"{row.conv_id}: assembled turns differ from input")
    iris = {CONV_BASE + c + "/turn/" + str(i): (c, i) for c in ids for i, _ in expected[c]}
    got: dict = {}
    for row in (spark.read.parquet(os.path.join(out, "materialize"))
                .where((F.col("pred") == VOCAB + "text") & F.col("subj").isin(list(iris)))
                .collect()):
        conv, idx = iris[row.subj]
        got.setdefault(conv, []).append((idx, row.obj_value))
    for conv in ids:
        if sorted(got.get(conv, [])) != expected[conv]:
            bad.append(f"{conv}: materialized turn text differs from input")
    return bad


def _quad(row) -> tuple:
    subj = {"type": "blank node" if row.subj.startswith("_:") else "IRI", "value": row.subj}
    if row.obj_kind == "literal":
        obj = {"type": "literal", "value": row.obj_value, "datatype": row.obj_datatype}
        if row.obj_language is not None:
            obj["language"] = row.obj_language
    else:
        obj = {"type": row.obj_kind, "value": row.obj_value}
    return subj, {"type": "IRI", "value": row.pred}, obj, row.graph


def in_process_canonical(doc_json: str) -> str:
    """The in-repo JSON-LD kernel, one document: expand -> toRDF -> URDNA2015."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.canon import canonize_quads
    from pyld_spark.jsonld.rdf import to_rdf

    return canonize_quads(to_rdf(api.expand(json.loads(doc_json))))


def _check_jsonld(spark, inp: Inputs, out: str) -> list:
    from pyld_spark.jsonld.nquads import serialize_quad

    bad = []
    q = {r.doc_id for r in spark.read.parquet(os.path.join(out, "quarantine")).collect()}
    if q != inp.invalid:
        bad.append(f"quarantined ids differ from designed-invalid ids "
                   f"({len(q)} vs {len(inp.invalid)})")
    good = spark.read.parquet(os.path.join(out, "triples")).where(F.col("error_code").isNull())
    canon = spark.read.parquet(os.path.join(out, "canonical"))
    n_good, n_canon = good.count(), canon.count()
    if n_good != n_canon:
        bad.append(f"canonical rows {n_canon} != triples rows {n_good}")
    covered = good.select("doc_id").distinct().count()
    if covered + len(q) != len(inp.docs):
        bad.append(f"{covered} docs with triples + {len(q)} quarantined != {len(inp.docs)} docs")
    rng = random.Random(inp.seed + 2)
    valid = sorted(set(inp.docs) - inp.invalid)
    sample = set(rng.sample(valid, min(CHECK_SAMPLE, len(valid))))
    sample |= set(sorted(inp.gadgets)[:4])
    lines: dict = {d: [] for d in sample}
    for row in canon.where(F.col("doc_id").isin(sorted(sample))).collect():
        subj, pred, obj, graph = _quad(row)
        relabel = lambda v: "_:" + v.split("_", 2)[2] if v.startswith("_:d") else v  # noqa: E731
        subj["value"] = relabel(subj["value"])
        if obj["type"] == "blank node":
            obj["value"] = relabel(obj["value"])
        lines[row.doc_id].append(serialize_quad((subj, pred, obj, relabel(graph))))
    for d in sorted(sample):
        if "".join(sorted(lines[d])) != in_process_canonical(inp.docs[d]):
            bad.append(f"{d}: Spark canonical triples differ from the in-process kernel")
    return bad


def _triple_digest(df) -> tuple:
    cols = [F.coalesce(F.col(c), F.lit("\u0000")) for c in TRIPLE_COLS]
    h = F.xxhash64(*cols)
    r = df.select(*TRIPLE_COLS).distinct().agg(
        F.count("*").alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")).collect()[0]
    return r.n, r.h


def check_readback(spark, inp: Inputs, graph: str, out: str) -> list:
    bad = []
    written = spark.read.parquet(graph)
    back = spark.read.parquet(os.path.join(out, "triples"))
    if back.where(F.col("error_code").isNotNull()).count():
        bad.append("malformed N-Quads lines read back")
    if _triple_digest(written) != _triple_digest(back.where(F.col("error_code").isNull())):
        bad.append("triples read back differ from the triples written")
    framed = spark.read.parquet(os.path.join(out, "framed")).agg(
        F.count("*").alias("n"), F.sum("n_embedded_turns").alias("turns")).collect()[0]
    if (framed.n, framed.turns) != (inp.props["conversations"], inp.props["turns"]):
        bad.append(f"framing matched {framed.n} docs / {framed.turns} turns, expected "
                   f"{inp.props['conversations']} / {inp.props['turns']}")
    mentions = written.where(F.col("pred") == VOCAB + "mentions").select(
        F.col("obj_value").alias("e"))
    labels = written.where(F.col("pred") == VOCAB + "label").select(F.col("subj").alias("e"))
    want = mentions.join(labels, "e").count()
    got = spark.read.parquet(os.path.join(out, "bgp")).count()
    if got != want:
        bad.append(f"bgp_match returned {got} rows, expected {want}")
    return bad


def check_delta(spark, inp: Inputs, out: str) -> list:
    bad = []
    lin = lineage(spark, out)
    if lin["assemble+delta"].rows_out != len(inp.delta):
        bad.append(f"appended {lin['assemble+delta'].rows_out} conversations, "
                   f"expected {len(inp.delta)}")
    n_docs = spark.read.parquet(os.path.join(out, "assemble")).count()
    if n_docs != inp.props["conversations"] + len(inp.delta):
        bad.append(f"{n_docs} documents after the append, expected "
                   f"{inp.props['conversations'] + len(inp.delta)}")
    n_trip = spark.read.parquet(os.path.join(out, "triples")).count()
    n_canon = spark.read.parquet(os.path.join(out, "canonicalize")).count()
    if n_trip != n_canon:
        bad.append(f"canonicalize rows {n_canon} != triples rows {n_trip}")
    return bad + _check_turn_text(spark, inp, out)


def check(spark, workload: str, inp: Inputs, out: str) -> list:
    if workload == "transcript_build":
        return _check_lineage(spark, out) + _check_turn_text(spark, inp, out)
    return _check_jsonld(spark, inp, out)

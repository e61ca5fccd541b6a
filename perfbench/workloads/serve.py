"""serve_mixed: a stream of small requests against indexes and a loan
model built in set-up, with writes beside the reads.

Its artifacts are an IVF index (8 lists) over the embeddings and a BM25
posting index over the documents, both without a held-out tail of 100
rows each, and the fitted loan pipeline. They are built once per
checkout (:meth:`ServeMixed.build_artifacts`, in a process of its own)
and every run starts from a copy. A round is 18 IVF probes, 1
single-row loan scoring, 1 indexed BM25 probe, 1 ``ivf_upsert`` and 1
``upsert_bm25_index`` of a batch of held-out rows. In every round a
probe of each index follows the write to it, so it reads the snapshot
the write left. The warm-up runs three groups side by side, one per
piece of state: the IVF index, the BM25 index and the model.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

from .. import checks
from . import ENGINE, Context, Done, Op, WarmGroup, Workload, dir_bytes

HELD_OUT = 100
BATCH = 10
K = 10
BM25_TERMS = 3
PROBE_TOL = 1.5e-6  # scores are rounded to 6 places on both sides
#: IVF probes per round: enough that op_p50_s, the median of a round's
#: operations, falls well inside them
IVF_PER_ROUND = 18
#: warm-up IVF probes after the first probe and write
IVF_WARM = 6

NUMERIC = ("ApplicantIncome", "CoapplicantIncome", "LoanAmount", "Loan_Amount_Term",
           "Credit_History")
STRINGS = ("Gender", "Married", "Dependents", "Education", "Self_Employed", "Property_Area")


def loan_record(rnd: random.Random) -> dict:
    """A UI-shaped applicant record: strings and whole numbers as a form
    sends them, ``"3+"`` dependents, and missing fields."""

    def maybe(v, p=0.1):
        return None if rnd.random() < p else v

    return {
        "Gender": maybe(rnd.choice(["Male", "Female"])),
        "Married": maybe(rnd.choice(["Yes", "No"]), 0.05),
        "Dependents": maybe(rnd.choice(["0", "1", "2", "3+"])),
        "Education": rnd.choice(["Graduate", "Not Graduate"]),
        "Self_Employed": maybe(rnd.choice(["Yes", "No"])),
        "ApplicantIncome": rnd.randint(150, 20000),
        "CoapplicantIncome": rnd.choice([0, rnd.randint(0, 10000)]),
        "LoanAmount": maybe(rnd.randint(9, 700)),
        "Loan_Amount_Term": maybe(rnd.choice([360, 180, 120, 300, 480, 84])),
        "Credit_History": maybe(rnd.choice([1, 1, 1, 0])),
        "Property_Area": rnd.choice(["Urban", "Semiurban", "Rural"]),
    }


def held_out_ids(data_dir: str) -> tuple[list[int], list[int]]:
    """The last ``HELD_OUT`` vector and document ids: left out of the
    built indexes, ingested by the writes."""
    def tail(table: str, col: str) -> list[int]:
        ids = pq.read_table(os.path.join(data_dir, table), columns=[col])[col].to_pylist()
        return sorted(ids)[-HELD_OUT:]

    return tail("embeddings.parquet", "vec_id"), tail("documents.parquet", "doc_id")


class ServeMixed(Workload):
    name = "serve_mixed"
    round_size = IVF_PER_ROUND + 4
    round_s = 15.0

    def artifacts_key(self, root: str, data_dir: str) -> str:
        """Digest of everything the built artifacts depend on: the engine
        sources, this module, the input tables and the Spark version."""
        import hashlib

        import pyspark

        h = hashlib.sha256(pyspark.__version__.encode())
        files = [os.path.join(data_dir, t) for t in ("embeddings.parquet", "documents.parquet")]
        files.append(os.path.abspath(__file__))
        engine = os.path.join(root, ENGINE)
        for d, _, names in sorted(os.walk(engine)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()[:16]

    def build_artifacts(self, ctx: Context, dest: str) -> None:
        """Build the two indexes into ``dest`` and fit the loan model (saved
        there too), with a span and Spark counters around each."""
        from pyspark.ml.classification import LogisticRegression
        from pyspark.sql import functions as F

        from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.pipeline import (
            build_pipeline, prepare_loan_frame,
        )
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.split import (
            stratified_split,
        )
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import (
            retrieval as R, similarity as S,
        )
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loan_fixtures import (
            generate_loan_tables,
        )
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
            load_table,
        )

        spark, tr = ctx.spark, ctx.tracer
        held_e, held_d = held_out_ids(ctx.data_dir)
        emb = load_table(spark, ctx.data_dir, "embeddings")
        docs = load_table(spark, ctx.data_dir, "documents")
        with tr.span("operators.similarity.build", phase="build"):
            S.build_ivf_index(emb.where(~F.col("vec_id").isin(held_e)),
                              os.path.join(dest, "ivf"), n_lists=8, seed=42)
        with tr.span("operators.retrieval.build", phase="build"):
            R.build_bm25_index(docs.where(~F.col("doc_id").isin(held_d)),
                               os.path.join(dest, "bm25"), n_buckets=8, n_files=4)
        with tr.span("ml.fit", phase="build"):
            t = generate_loan_tables(spark, seed=42)
            df = prepare_loan_frame(t["applicant_info"], t["financial_info"], t["loan_info"])
            train, _ = stratified_split(df, "label", test_size=0.2, seed=42)
            clf = LogisticRegression(maxIter=20, labelCol="label", featuresCol="features")
            model = build_pipeline(clf).fit(train)
        model.write().save(os.path.join(dest, "model"))

    def setup(self, ctx: Context, rnd: random.Random) -> None:
        """Copy the prebuilt indexes into the run directory (writes never
        touch the shared copy). The model is loaded in the warm-up."""
        import shutil

        from pyspark.sql import functions as F

        from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.scoring import (
            score_single_row,
        )
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import (
            retrieval as R, similarity as S,
        )
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
            load_table,
        )

        self.S, self.R, self.F, self.score_single_row = S, R, F, score_single_row
        spark, tr = ctx.spark, ctx.tracer
        self.load_inputs(ctx.data_dir, rnd)
        tables = os.path.join(ctx.run_dir, "tables")
        for name in ("ivf", "bm25"):
            shutil.copytree(os.path.join(ctx.artifacts, name), os.path.join(tables, name))
        with tr.span("sources.load", phase="build"):
            self.emb = load_table(spark, ctx.data_dir, "embeddings")
            self.docs = load_table(spark, ctx.data_dir, "documents")
        self.ivf_path = os.path.join(tables, "ivf")
        self.bm25_path = os.path.join(tables, "bm25")
        self.ivf_version = checks.index_version(self.ivf_path)
        self.size = {"ivf": dir_bytes(self.ivf_path), "bm25": dir_bytes(self.bm25_path)}
        self.fresh_write = {"ivf": False, "bm25": False}

    def load_model(self, ctx: Context) -> None:
        from pyspark.ml import PipelineModel

        self.model = PipelineModel.load(os.path.join(ctx.artifacts, "model"))

    def load_inputs(self, data_dir: str, rnd: random.Random) -> None:
        """Benchmark-side inputs, read with pyarrow (no engine code): the
        vectors and texts requests draw from, the held-out ids the writes
        ingest in seeded batches, and the BM25 term vocabulary."""
        e = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pydict()
        d = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pydict()
        self.vectors = {int(i): [float(x) for x in v] for i, v in zip(e["vec_id"], e["embedding"])}
        self.texts = {int(i): t for i, t in zip(d["doc_id"], d["text"])}
        held_e, held_d = held_out_ids(data_dir)
        self.ivf_ids = frozenset(set(self.vectors) - set(held_e))
        held = set(held_d)
        self.corpus = {i: t for i, t in self.texts.items() if i not in held}
        self.vocab = sorted({t for text in self.corpus.values() for t in text.split(" ") if t})
        self.ivf_queue = self._batches(rnd, held_e)
        self.bm25_queue = self._batches(rnd, held_d)
        self.query_ids = sorted(self.vectors)

    @staticmethod
    def _batches(rnd: random.Random, ids: list[int]):
        """Endless seeded batches of held-out ids (re-ingesting a batch
        replaces rows with identical content)."""
        ids = list(ids)
        while True:
            rnd.shuffle(ids)
            for i in range(0, len(ids), BATCH):
                yield sorted(ids[i:i + BATCH])

    # -- operations ------------------------------------------------------
    def _op(self, rnd: random.Random, kind: str) -> Op:
        if kind == "ivf_query":
            base = self.vectors[rnd.choice(self.query_ids)]
            return Op(kind, "ann", {"qvec": [x + rnd.gauss(0.0, 0.01) for x in base]})
        if kind == "score":
            return Op(kind, "score", {"record": loan_record(rnd)})
        if kind == "bm25_query":
            return Op(kind, "bm25", {"terms": rnd.sample(self.vocab, BM25_TERMS)})
        if kind == "ivf_upsert":
            return Op(kind, "write", {"ids": next(self.ivf_queue)})
        return Op(kind, "write", {"ids": next(self.bm25_queue)})

    def warm_groups(self, rnd: random.Random) -> list[WarmGroup]:
        """The first call of every kind, in three groups: the IVF index
        (then ``IVF_WARM`` more probes), the BM25 index, and the model,
        which its group loads first (about 10 s, overlapped with the
        index groups' cold calls). The index groups share only the
        engine's parquet-handle memo, whose entries are per index path."""
        def ops(*kinds: str) -> list[Op]:
            return [self._op(rnd, k) for k in kinds]

        return [
            WarmGroup(ops("ivf_query", "ivf_upsert", *["ivf_query"] * IVF_WARM)),
            WarmGroup(ops("bm25_query", "bm25_upsert")),
            WarmGroup(ops("score", "score"), prepare=self.load_model),
        ]

    def round_ops(self, rnd: random.Random, r: int) -> list[Op]:
        """The scoring, the two writes and the BM25 probe first, in a
        seeded order with the BM25 write before the BM25 probe; then the
        IVF probes, the first of which reads the snapshot the IVF write
        left. IVF probes right after the heavier operations run slower
        for a few calls (0.3-0.5 s against 0.2-0.3 s); with the order of
        classes fixed, every run has the same number of those, and
        op_p50_s falls among the later probes."""
        heavy = ["score", "ivf_upsert", "bm25_upsert", "bm25_query"]
        rnd.shuffle(heavy)
        w, q = heavy.index("bm25_upsert"), heavy.index("bm25_query")
        if q < w:
            heavy[w], heavy[q] = heavy[q], heavy[w]
        return [self._op(rnd, k) for k in heavy + ["ivf_query"] * IVF_PER_ROUND]

    def execute(self, ctx: Context, op: Op):
        spark, tr, a, F = ctx.spark, ctx.tracer, op.args, self.F
        if op.kind == "ivf_query":
            with tr.span("operators.similarity.probe_build", phase="build"):
                df = self.S.ivf_query(spark, self.ivf_path, a["qvec"], k=K)
            with tr.span("exec", phase="exec"):
                rows = df.collect()
            return [(int(r[0]), float(r[1])) for r in rows]
        if op.kind == "score":
            with tr.span("ml.score", phase="score"):
                return self.score_single_row(spark, self.model, a["record"])
        if op.kind == "bm25_query":
            with tr.span("input", phase="input"):
                q = spark.createDataFrame([("q", t) for t in a["terms"]],
                                          "query_id string, term string")
            with tr.span("operators.retrieval.probe_build", phase="build"):
                df = self.R.bm25_topk_indexed(spark, self.bm25_path, q, k=K)
            with tr.span("exec", phase="exec"):
                rows = df.collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in sorted(rows, key=lambda r: r["rank"])]
        if op.kind == "ivf_upsert":
            with tr.span("input", phase="input"):
                batch = self.emb.where(F.col("vec_id").isin(a["ids"]))
            with tr.span("operators.similarity.upsert", phase="upsert"):
                return self.S.ivf_upsert(spark, self.ivf_path, batch)
        with tr.span("input", phase="input"):
            batch = self.docs.where(F.col("doc_id").isin(a["ids"]))
        with tr.span("operators.retrieval.upsert", phase="upsert"):
            return self.R.upsert_bm25_index(spark, batch, self.bm25_path)

    def after(self, ctx: Context, done: Done) -> None:
        op, tr = done.op, ctx.tracer
        fam = {"ivf_query": "ivf", "ivf_upsert": "ivf",
               "bm25_query": "bm25", "bm25_upsert": "bm25"}.get(op.kind)
        if op.kind == "ivf_query":
            done.state["version"] = self.ivf_version
        elif op.kind == "bm25_query":
            done.state["corpus"] = self.corpus
        elif op.kind == "ivf_upsert" and done.error is None:
            self.ivf_version = checks.index_version(self.ivf_path)
            self.ivf_ids = self.ivf_ids | set(op.args["ids"])
            done.state.update(version=self.ivf_version, ids=self.ivf_ids)
        elif op.kind == "bm25_upsert" and done.error is None:
            self.corpus = {**self.corpus, **{i: self.texts[i] for i in op.args["ids"]}}
            done.state.update(version=checks.index_version(self.bm25_path), corpus=self.corpus)
        if fam is None:
            return
        if op.kind.endswith("_query"):
            if tr.traced:
                tr.note("result_rows", len(done.output or ()))
                if self.fresh_write[fam]:
                    tr.note("first_after_write", 1)
            self.fresh_write[fam] = False
            return
        self.fresh_write[fam] = True
        size = dir_bytes(self.ivf_path if fam == "ivf" else self.bm25_path)
        written, self.size[fam] = size - self.size[fam], size
        if tr.traced:
            tr.note("bytes_written", written)
            if fam == "ivf":
                delta = sum(8 + 8 * len(self.vectors[i]) for i in op.args["ids"])
            else:
                delta = sum(8 + len(self.texts[i].encode()) for i in op.args["ids"])
            tr.note("delta_bytes", delta)

    # -- checks ----------------------------------------------------------
    def prepare_checks(self, ctx: Context, done: list[Done]) -> None:
        self.want_scores = self._batch_scores(ctx, [d.op.args["record"] for d in done
                                                    if d.op.kind == "score" and d.error is None])

    def check(self, ctx: Context, done: list[Done]) -> list[str | None]:
        scores = list(self.want_scores)
        out = []
        for d in done:
            if d.error:
                out.append(d.error)
            elif d.op.kind == "ivf_query":
                want = checks.ivf_reference(self.ivf_path, d.state["version"], d.op.args["qvec"], K)
                out.append(checks.topk_matches(d.output, want, PROBE_TOL))
            elif d.op.kind == "bm25_query":
                want = checks.bm25_reference(d.state["corpus"], d.op.args["terms"], K)
                out.append(checks.topk_matches(d.output, want, PROBE_TOL))
            elif d.op.kind == "score":
                out.append(checks.score_matches(d.output, *scores.pop(0)))
            elif d.op.kind == "ivf_upsert":
                ids = checks.ivf_cell_ids(self.ivf_path, d.state["version"])
                out.append(None if d.output >= 1 and ids == d.state["ids"]
                           else f"index holds {len(ids)} ids, expected {len(d.state['ids'])}")
            else:
                n = self._bm25_docs(d.state["version"])
                out.append(None if d.output >= 1 and n == len(d.state["corpus"])
                           else f"index counts {n} docs, expected {len(d.state['corpus'])}")
        return out

    def _bm25_docs(self, version: int) -> int:
        import json

        with open(os.path.join(self.bm25_path, "_index_log", f"v{version}.json")) as f:
            meta = json.load(f)["meta"]
        return int(pq.read_table(os.path.join(self.bm25_path, meta))["n"][0].as_py())

    def _batch_scores(self, ctx: Context, records: list[dict]) -> list[tuple[int, float]]:
        """MLlib batch ``transform`` of the same records, derived columns
        computed as the preparation step defines them."""
        if not records:
            return []
        from pyspark.ml.functions import vector_to_array
        from pyspark.sql import functions as F

        schema = ", ".join(
            [f"{c} string" for c in STRINGS] + [f"{c} double" for c in NUMERIC] + ["i int"]
        )
        rows = [
            tuple(r.get(c) for c in STRINGS)
            + tuple(None if r.get(c) is None else float(r[c]) for c in NUMERIC)
            + (i,)
            for i, r in enumerate(records)
        ]
        dep = F.col("Dependents")
        df = (
            ctx.spark.createDataFrame(rows, schema)
            .withColumn("Dependents_num",
                        F.when(dep == "3+", F.lit(3)).otherwise(dep.try_cast("int")).cast("double"))
            .withColumn("Total_Income", F.col("ApplicantIncome") + F.col("CoapplicantIncome"))
        )
        got = (
            self.model.transform(df)
            .select("i", "prediction", vector_to_array("probability")[1].alias("p"))
            .orderBy("i")
            .collect()
        )
        return [(int(r["prediction"]), float(r["p"])) for r in got]

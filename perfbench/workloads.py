"""The benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

* ``once()`` — one-time set-up: inputs and oracle precompute;
* ``fixture(rep)`` — the repeatable part of set-up (run several times,
  the median is reported), returning the state the timed loop uses;
* ``loop(state)`` — untimed warm-up, then the timed, closed-loop ops for
  ``b.seconds`` (the clock starts at ``b.start()``);
* ``report(state)`` — the workload's own named end-to-end figures.

Every op's result is checked against an oracle computed by DuckDB (or,
for the index updates and searches, by plain Python) over the same
generated inputs.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import statistics
from collections import Counter, defaultdict

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import CHECKSUM_SQL, frame_fingerprint, lineitem_checksum, tail

LI_PARTS = ["l_returnflag", "l_linestatus"]
#: serve's metadata-only op kinds
META_KINDS = ("all_values", "max_value", "diff_values", "rowcount", "partition_rowcounts")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _live_bytes(spark, path: str) -> int:
    from s3parq_spark import metadata

    meta = metadata.read_sidecar(spark, path)
    return sum(os.path.getsize(os.path.join(path, f)) for f in meta.all_files())


class Workload:
    name = ""
    primary = ()  # op kinds behind op_p50_s / op_tail_s
    read_kinds = ()  # op kinds behind metadata.manifest_reads

    def __init__(self, b, data_dir: str, work: str, rows: dict):
        self.b, self.data, self.work, self.rows = b, data_dir, work, rows
        self.rng = random.Random(b.seed)
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 1")
        for t in rows:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._src(t)}')"
            )
        self.dataset = None  # the dataset whose sidecar size is reported

    def _src(self, table: str) -> str:
        return os.path.join(self.data, f"{table}.parquet")

    def _read(self, table: str):
        spark = self.b.spark
        schema = spark.read.parquet(self._src(table)).schema
        return spark.read.schema(schema).parquet(self._src(table))

    @property
    def primary_name(self) -> str:
        return "/".join(self.primary)

    def primary_times(self) -> list:
        """Latencies behind op_p50_s and op_tail_s."""
        return self.b.times(*self.primary)

    def once(self) -> None:
        pass

    def fixture(self, rep: int):
        return None

    def loop(self, state) -> None:
        raise NotImplementedError

    def report(self, state) -> list:
        return []


# ---------------------------------------------------------------------------
class Ingest(Workload):
    """Append phase (small appends, each op a publish and its
    read-your-write row count, for 80% of the clock), read phase (one
    zone-range or bloom point fetches per append made, against the grown
    dataset), then one compaction and a verify read."""

    name = "ingest"
    primary = ("append",)
    read_kinds = ("zone_fetch", "bloom_fetch")
    BATCH_ROWS = 1000  # 60 batches at scale 0.01; the clock decides how many run
    # appends take most of the clock, so a run makes enough (~25) for
    # op_tail_s to have ten beyond it; the read phase then issues
    # READS_PER_APPEND reads per append made, so every run has the same mix
    APPEND_SHARE = 0.8
    READS_PER_APPEND = 1

    def once(self) -> None:
        li = pq.read_table(self._src("lineitem"))
        perm = np.random.default_rng(self.b.seed).permutation(li.num_rows)
        batch = np.full(li.num_rows, -1, dtype=np.int64)
        self.batch_files = []
        os.makedirs(os.path.join(self.work, "batches"), exist_ok=True)
        for k in range(li.num_rows // self.BATCH_ROWS):
            idx = perm[k * self.BATCH_ROWS:(k + 1) * self.BATCH_ROWS]
            batch[idx] = k
            f = os.path.join(self.work, "batches", f"b{k:04d}.parquet")
            pq.write_table(li.take(pa.array(np.sort(idx))), f)
            self.batch_files.append(f)
        self.schema = self._read("lineitem").schema
        self.duck.register("li_b", li.append_column("batch", pa.array(batch)))
        # oracle: per-batch checksums for each read the loop can issue
        lo, hi = dt.date(1995, 1, 2), dt.date(2001, 11, 4)
        self.reads = []
        keys = li.column("l_orderkey").to_numpy()
        for i in range(150):
            if i % 2 == 0:
                # one comparison per column (the reference keeps only the
                # first filter naming a column): a narrow range at either
                # end of the shipdate span
                if self.rng.random() < 0.5:
                    d = lo + dt.timedelta(days=self.rng.randrange(5, 40))
                    op, sql = "<", "<"
                else:
                    d = hi - dt.timedelta(days=self.rng.randrange(5, 40))
                    op, sql = ">", ">"
                flt = [{"partition": "l_shipdate", "comparison": op,
                        "values": [dt.datetime.combine(d, dt.time())]}]
                where = f"l_shipdate {sql} TIMESTAMP '{d}'"
                kind = "zone_fetch"
            else:
                k = int(keys[perm[self.rng.randrange(0, 30 * self.BATCH_ROWS)]])
                flt = [{"partition": "l_orderkey", "comparison": "==", "values": [k]}]
                where = f"l_orderkey = {k}"
                kind = "bloom_fetch"
            per_batch = {}
            for r in self.duck.execute(
                f"{CHECKSUM_SQL}, batch FROM li_b WHERE batch >= 0 AND {where} "
                "GROUP BY batch"
            ).fetchall():
                per_batch[int(r[3])] = (int(r[0]), int(r[1]), int(r[2]))
            self.reads.append((kind, flt, per_batch))

    def _publish(self, path: str, k: int, mode: str):
        from s3parq_spark import publish_path

        df = self.b.spark.read.schema(self.schema).parquet(self.batch_files[k])
        return publish_path(
            self.b.spark, path, df, LI_PARTS, mode=mode,
            zone_map_columns=["l_shipdate"], file_bloom_columns=["l_orderkey"],
        )

    #: batches the fixture publishes: the first declares the layout, the
    #: appends after it warm the append path before the clock starts
    FIXTURE_BATCHES = 3

    def fixture(self, rep: int):
        from s3parq_spark import fetch_path

        path = os.path.join(self.work, f"ingest_{rep}")
        self._publish(path, 0, "overwrite")
        for k in range(1, self.FIXTURE_BATCHES):
            self._publish(path, k, "append")
        # one read of each kind warms the read path too
        for kind, flt, per_batch in self.reads[:2]:
            want = self._expected(per_batch, self.FIXTURE_BATCHES)
            got = lineitem_checksum(fetch_path(self.b.spark, path, filters=flt).toPandas())
            if got != want:
                raise RuntimeError(f"ingest warm-up {kind} returned a wrong result")
        return path

    def _expected(self, per_batch: dict, n_batches: int) -> tuple:
        tot = [0, 0, 0]
        for k, v in per_batch.items():
            if k < n_batches:
                tot = [a + b for a, b in zip(tot, v)]
        return tuple(tot)

    def loop(self, path) -> None:
        from s3parq_spark import compact_dataset, dataset_rowcount, fetch_path

        b, spark = self.b, self.b.spark
        self.dataset = path
        n = self.FIXTURE_BATCHES  # batches in the dataset
        b.start()
        while b.elapsed() < b.seconds * self.APPEND_SHARE and n < len(self.batch_files):
            want = (n + 1) * self.BATCH_ROWS
            b.op("append",
                 lambda: (self._publish(path, n, "append"), dataset_rowcount(spark, path)),
                 lambda r: r[1] == want)
            n += 1
        self.appended = n - self.FIXTURE_BATCHES
        for i in range(self.READS_PER_APPEND * self.appended):
            kind, flt, per_batch = self.reads[(2 + i) % len(self.reads)]
            want = self._expected(per_batch, n)
            b.op(kind, lambda: fetch_path(spark, path, filters=flt).toPandas(),
                 lambda pdf: lineitem_checksum(pdf) == want)
        b.op("compact", lambda: compact_dataset(spark, path))
        want_all = self._expected(self._all_batches(), n)
        b.op("verify", lambda: fetch_path(spark, path).toPandas(),
             lambda pdf: lineitem_checksum(pdf) == want_all)
        self.wall = b.elapsed()
        self.space_amp = _dir_bytes(path) / max(1, _live_bytes(spark, path))

    def _all_batches(self) -> dict:
        return {
            int(r[3]): (int(r[0]), int(r[1]), int(r[2]))
            for r in self.duck.execute(
                f"{CHECKSUM_SQL}, batch FROM li_b WHERE batch >= 0 GROUP BY batch"
            ).fetchall()
        }

    def report(self, state) -> list:
        b = self.b
        pub = b.times("append")
        fet = b.times("zone_fetch", "bloom_fetch")
        out = [("ingest_rows_per_s", self.appended * self.BATCH_ROWS / self.wall, "rows/s")]
        out += _p50_tail("publish", pub)
        out += _p50_tail("fetch", fet)
        out.append(("space_amp", self.space_amp, "ratio"))
        return out


# ---------------------------------------------------------------------------
class Serve(Workload):
    """Driver metadata plane: a seeded 70/30 mix of pruned fetches and
    metadata-only ops against one month-partitioned dataset whose
    manifests fit the engine's caches."""

    name = "serve"
    primary = ("part_eq", "part_range", "zone_range", "bloom_point", "projected")
    read_kinds = primary
    N_OPS = 400  # oracle-precomputed op list; the loop cycles through it
    FILE_ROWS = 150  # rows per data file: about 430 files

    def once(self) -> None:
        months = [
            r[0] for r in self.duck.execute(
                "SELECT DISTINCT date_trunc('month', l_shipdate)::TIMESTAMP m "
                "FROM lineitem ORDER BY m"
            ).fetchall()
        ]
        self.months = months
        max_key = self.duck.execute("SELECT max(l_orderkey) FROM lineitem").fetchone()[0]
        parts = [r[0] for r in self.duck.execute(
            "SELECT DISTINCT l_partkey FROM lineitem ORDER BY 1").fetchall()]
        # a fixed 7:3 cycle of fetches and metadata-only ops (the seed
        # picks each op's values), so every run issues the same mix
        fetches = ["part_eq", "part_range", "zone_range", "bloom_point", "projected",
                   "part_eq", "bloom_point"]
        self.plan = []
        for i in range(self.N_OPS):
            c, k = divmod(i, 10)
            kind = fetches[k] if k < 7 else META_KINDS[(3 * c + k - 7) % 5]
            cols, where, flt = None, None, None
            if kind in ("part_eq", "projected"):
                m = self.rng.choice(months)
                flt = [{"partition": "ship_month", "comparison": "==", "values": [m]}]
                where = f"date_trunc('month', l_shipdate) = TIMESTAMP '{m}'"
                if kind == "projected":
                    cols = ["l_orderkey", "l_extendedprice"]
            elif kind == "part_range":
                # a few months at either end (one comparison per column)
                if self.rng.random() < 0.5:
                    m, op = months[-self.rng.randrange(2, 7)], ">="
                else:
                    m, op = months[self.rng.randrange(1, 6)], "<="
                flt = [{"partition": "ship_month", "comparison": op, "values": [m]}]
                where = f"date_trunc('month', l_shipdate) {op} TIMESTAMP '{m}'"
            elif kind == "zone_range":
                w = max(2, max_key // 100)
                if self.rng.random() < 0.5:
                    a, op = self.rng.randrange(1, w), "<"
                else:
                    a, op = max_key - self.rng.randrange(1, w), ">"
                flt = [{"partition": "l_orderkey", "comparison": op, "values": [a]}]
                where = f"l_orderkey {op} {a}"
            elif kind == "bloom_point":
                p = self.rng.choice(parts)
                flt = [{"partition": "l_partkey", "comparison": "==", "values": [p]}]
                where = f"l_partkey = {p}"
            if where is not None:
                want = tuple(int(x) for x in self.duck.execute(
                    f"{CHECKSUM_SQL} FROM lineitem WHERE {where}").fetchone())
            else:
                want = None
            self.plan.append((kind, flt, cols, want))
        self.all_months = set(months)
        self.diff_probe = months[::2] + [dt.datetime(2030, 1, 1)]
        self.total = self.duck.execute("SELECT count(*) FROM lineitem").fetchone()[0]
        self.per_month = {
            r[0]: int(r[1]) for r in self.duck.execute(
                "SELECT date_trunc('month', l_shipdate)::TIMESTAMP, count(*) "
                "FROM lineitem GROUP BY 1").fetchall()
        }

    def fixture(self, rep: int):
        import pyspark.sql.functions as F
        from s3parq_spark import publish_path

        base = os.path.join(self.work, f"serve_{rep}")
        path = os.path.join(base, "li_month")
        df = self._read("lineitem").withColumn(
            "ship_month", F.date_trunc("month", F.col("l_shipdate")))
        publish_path(
            self.b.spark, path, df, ["ship_month"], mode="overwrite",
            max_records_per_file=self.FILE_ROWS, sort_within_files=["l_orderkey"],
            zone_map_columns=["l_orderkey"], file_bloom_columns=["l_partkey"],
        )
        return base

    def _meta_op(self, kind: str, base: str):
        import s3parq_spark as sq

        spark, path = self.b.spark, os.path.join(base, "li_month")
        if kind == "all_values":
            return (lambda: sq.get_all_partition_values(base, "li_month", "ship_month", spark=spark),
                    lambda r: set(r) == self.all_months)
        if kind == "max_value":
            return (lambda: sq.get_max_partition_value(base, "li_month", "ship_month", spark=spark),
                    lambda r: r == max(self.all_months))
        if kind == "diff_values":
            want = self.all_months - set(self.diff_probe)
            return (lambda: sq.get_diff_partition_values(
                        base, "li_month", "ship_month", self.diff_probe, spark=spark),
                    lambda r: set(r) == want)
        if kind == "rowcount":
            return (lambda: sq.dataset_rowcount(spark, path),
                    lambda r: r == self.total)
        return (lambda: sq.partition_rowcounts(spark, path, "ship_month"),
                lambda r: {k: int(v) for k, v in r.items()} == self.per_month)

    def loop(self, base) -> None:
        b = self.b
        path = self.dataset = os.path.join(base, "li_month")
        # first touch of each op kind loads the metadata caches: untimed
        seen = set()
        for kind, flt, cols, want in self.plan:
            if kind not in seen:
                seen.add(kind)
                self._run(kind, flt, cols, want, base, path, timed=False)
        i = 0
        b.start()
        while b.elapsed() < b.seconds:
            kind, flt, cols, want = self.plan[i % len(self.plan)]
            self._run(kind, flt, cols, want, base, path, timed=True)
            i += 1

    def _run(self, kind, flt, cols, want, base, path, timed: bool):
        from s3parq_spark import fetch_path

        spark = self.b.spark
        if want is not None:
            fn = lambda: fetch_path(spark, path, filters=flt, columns=cols).toPandas()  # noqa: E731
            if cols is None:
                chk = lambda pdf: lineitem_checksum(pdf) == want  # noqa: E731
            else:
                chk = lambda pdf: (len(pdf), int(pdf["l_orderkey"].sum())) == want[:2]  # noqa: E731
        else:
            fn, chk = self._meta_op(kind, base)
        if timed:
            self.b.op(kind, fn, chk)
        elif not chk(fn()):
            raise RuntimeError(f"serve warm-up op {kind} returned a wrong result")

    def report(self, state) -> list:
        b = self.b
        out = _p50_tail("fetch", b.times(*self.primary))
        meta = b.times(*META_KINDS)
        out.append(("meta_p50_s", statistics.median(meta) if meta else 0.0, "s"))
        files = sum(f.endswith(".parquet") for _, _, fs in os.walk(self.dataset) for f in fs)
        out.append(("serve.data_files", files, "count"))
        return out


# ---------------------------------------------------------------------------
#: document and vector operators from ``workload.QUERIES``, run by ``index``
DOC_QUERIES = ("dedup_exact", "neardup_jaccard", "minhash_pairs", "ann_topk")


class QueryOracle:
    """Checks ``workload.QUERIES`` results against their ``ORACLE_SQL``
    with the normalisation of ``scripts/check_oracle.py``. A result is
    compared in full once; later results are compared by fingerprint with
    that verified one (a mismatch falls back to the full comparison)."""

    def __init__(self, duck, names):
        import check_oracle
        from s3parq_spark import workload

        self.co = check_oracle
        self.expected = {}
        for q in names:
            dpdf = duck.execute(workload.ORACLE_SQL[q]).df()
            self.expected[q] = (len(dpdf), sorted(dpdf.columns),
                                check_oracle.value_hash(check_oracle.canon(dpdf)))
        self.fp = {}

    def check(self, q: str, spdf) -> bool:
        if self.fp.get(q) == frame_fingerprint(spdf):
            return True
        rows, cols, h = self.expected[q]
        ok = (len(spdf) == rows and sorted(spdf.columns) == cols
              and self.co.value_hash(self.co.canon(spdf)) == h)
        if ok:
            self.fp[q] = frame_fingerprint(spdf)
        return ok


# ---------------------------------------------------------------------------
_MARK = "qzx"  # marker tokens: letters only, absent from the corpus vocabulary


def _marker(i: int) -> str:
    s, n = "", i
    while True:
        s += "abcdefghijklmnopqrstuvwxyz"[n % 26]
        n //= 26
        if n == 0:
            return _MARK + s


class TextOracle:
    """BM25 over the current corpus, as ``search_text_index_batch``
    scores it: whitespace tokens of the lower-cased text, ``k1`` = 1.2,
    ``b`` = 0.75, df over the corpus, and terms whose df exceeds the
    index's ``max_df`` (stop terms) scoring nothing. Kept in step with
    every reindex batch the loop commits."""

    K1, B = 1.2, 0.75

    def __init__(self, texts: dict, max_df: int):
        self.max_df = max_df
        self.tf, self.dl = {}, {}
        self.docs = defaultdict(set)  # term -> ids of the documents holding it
        self.update(texts)

    def update(self, texts: dict) -> None:
        for d, text in texts.items():
            for t in self.tf.get(d, ()):
                self.docs[t].discard(d)
            toks = text.lower().split()
            self.tf[d], self.dl[d] = Counter(toks), len(toks)
            for t in self.tf[d]:
                self.docs[t].add(d)

    def df(self, term: str) -> int:
        return len(self.docs.get(term, ()))

    def scores(self, terms) -> dict:
        """Doc id -> score, over the documents holding a live term."""
        n = len(self.tf)
        avgdl = sum(self.dl.values()) / n
        out = defaultdict(float)
        for t in {t.lower() for t in terms}:
            df = self.df(t)
            if df == 0 or df > self.max_df:
                continue
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for d in self.docs[t]:
                tf = self.tf[d][t]
                norm = tf + self.K1 * (1.0 - self.B + self.B * self.dl[d] / avgdl)
                # the engine sums per-term scores cast to decimal(28,12)
                out[d] += round(idf * tf * (self.K1 + 1.0) / norm, 12)
        return out

    def check(self, pdf, queries: dict, k: int) -> bool:
        """The result is each query's top ``k`` by score: the right number
        of hits, each hit's score as computed here, scores ordered, and no
        document left out that scores above the last hit (ties at the
        cut may go either way)."""
        qcol, idcol = pdf.columns[0], pdf.columns[1]
        if not set(pdf[qcol]) <= set(queries):
            return False
        for q, terms in queries.items():
            want = self.scores(terms)
            sub = pdf[pdf[qcol] == q]
            ids = [int(x) for x in sub[idcol]]
            got = [float(x) for x in sub["score"]]
            if len(ids) != min(k, len(want)) or len(set(ids)) != len(ids):
                return False
            if any(d not in want or abs(want[d] - g) > 1e-6 for d, g in zip(ids, got)):
                return False
            if any(x < y - 1e-9 for x, y in zip(got, got[1:])):
                return False
            taken = set(ids)
            rest = max((v for d, v in want.items() if d not in taken), default=None)
            if rest is not None and ids and rest > got[-1] + 1e-9:
                return False
        return True


def _cosine_check(pdf, probe: int, vec: dict, indexed: set, k: int) -> bool:
    """An IVF probe with an indexed vector: ``k`` distinct indexed ids,
    the probe first, each score the exact cosine of the query and that
    vector, scores ordered."""
    if len(pdf) != k:
        return False
    ids = [int(x) for x in pdf.iloc[:, 0]]
    got = [float(x) for x in pdf["score"]]
    if ids[0] != probe or len(set(ids)) != k or not set(ids) <= indexed:
        return False
    q = vec[probe].astype(np.float64)
    for d, g in zip(ids, got):
        v = vec[d].astype(np.float64)
        if abs(float(q @ v) / (np.linalg.norm(q) * np.linalg.norm(v)) - g) > 1e-5:
            return False
    return all(x >= y - 1e-9 for x, y in zip(got, got[1:]))


class Index(Workload):
    """Text family: a ``max_df``-capped build, then cycles that commit a
    ~1% ``reindex_documents`` batch and search the updated index. IVF
    family: build, then cycles that append a batch and probe it. Each
    cycle ends with the document and vector operators of ``DOC_QUERIES``
    over the same corpus. Every update is verified as soon as it
    commits, and every search against an oracle kept in step with the
    updates."""

    name = "index"
    # op_p50_s follows the text batch search alone: a median pooled over
    # text (~0.6 s) and IVF (~0.2 s) searches would jump between the two
    primary = ("text_search",)
    read_kinds = ("text_search", "ivf_search")
    TEXT_SEARCHES, IVF_SEARCHES = 12, 6  # searches after each update
    K_TEXT, K_IVF = 10, 5
    #: terms above the cap are stop terms: the STOP_TERMS most frequent
    #: words of the corpus (the cap is the next word's df)
    STOP_TERMS = 3
    APPEND_VECTORS = 10  # vectors per IVF append batch

    def once(self) -> None:
        docs = pq.read_table(self._src("documents"), columns=["doc_id", "text"])
        self.texts = dict(zip(docs.column("doc_id").to_pylist(),
                              docs.column("text").to_pylist()))
        emb = pq.read_table(self._src("embeddings"), columns=["vec_id", "embedding"])
        ids = emb.column("vec_id").to_numpy()
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        n_base = int(len(ids) * 0.6)
        order = np.random.default_rng(self.b.seed).permutation(len(ids))
        os.makedirs(os.path.join(self.work, "inputs"), exist_ok=True)
        self.vec = {int(ids[i]): vecs[i] for i in range(len(ids))}
        self.base_ids = [int(ids[i]) for i in order[:n_base]]
        rest = order[n_base:]
        self.append_files = []
        for j in range(0, len(rest), self.APPEND_VECTORS):
            part = rest[j:j + self.APPEND_VECTORS]
            f = os.path.join(self.work, "inputs", f"vec_{j:05d}.parquet")
            pq.write_table(emb.take(pa.array(np.sort(part))), f)
            self.append_files.append((f, [int(ids[i]) for i in part]))
        f = os.path.join(self.work, "inputs", "vec_base.parquet")
        pq.write_table(emb.take(pa.array(np.sort(order[:n_base]))), f)
        self.base_file = f
        # reindex batches: ~1% of documents get a new text carrying a
        # unique marker token, so a search for it has a known answer
        n_docs = len(self.texts)
        per = max(1, n_docs // 100)
        doc_ids = sorted(self.texts)
        self.reindex = []
        for j in range(len(self.append_files)):
            chosen = self.rng.sample(doc_ids, per)
            mk = _marker(j)
            new = {d: f"{self.texts[d]} {mk}" for d in chosen}
            f = os.path.join(self.work, "inputs", f"docs_{j:03d}.parquet")
            pq.write_table(pa.table({
                "doc_id": pa.array(list(new), pa.int64()),
                "text": pa.array(list(new.values()), pa.string()),
            }), f)
            self.reindex.append((f, mk, new))
        counts = TextOracle(self.texts, n_docs)
        self.words = sorted(counts.docs)
        dfs = sorted((counts.df(w) for w in self.words), reverse=True)
        self.max_df = dfs[self.STOP_TERMS]
        self.oracle = QueryOracle(self.duck, DOC_QUERIES)

    def loop(self, state) -> None:
        from s3parq_spark import (
            append_to_ivf_index, build_ivf_index, build_text_index,
            reindex_documents, search_ivf_index, search_text_index_batch,
        )
        from s3parq_spark import workload

        b, spark = self.b, self.b.spark
        ti = self.dataset = os.path.join(self.work, "text_idx")
        vi = os.path.join(self.work, "ivf_idx")
        docs = spark.read.parquet(self._src("documents")).select("doc_id", "text")
        text = TextOracle(self.texts, self.max_df)
        # the builds are timed ops; the loop clock starts after them
        b.op("text_build", lambda: build_text_index(
            spark, docs, ti, "doc_id", "text", n_buckets=8, max_df=self.max_df))
        base = spark.read.parquet(self.base_file).select("vec_id", "embedding")
        b.op("ivf_build", lambda: build_ivf_index(
            spark, base, vi, "vec_id", "embedding", k=8, iters=2))
        indexed = set(self.base_ids)
        recent = []  # ids of the last appended batch
        marks = {}  # the marker of the last reindex batch, under "mark"

        def search_text(qs):
            return search_text_index_batch(spark, ti, qs, k=self.K_TEXT).toPandas()

        def search_ivf(probe):
            return search_ivf_index(spark, vi, self.vec[probe].tolist(),
                                    k=self.K_IVF, nprobe=2).toPandas()

        def reindex(j):
            f, mk, batch = self.reindex[j]

            def committed(_):
                # the marker search returns exactly the reindexed batch
                text.update(batch)
                marks["mark"] = [mk]
                return (text.check(search_text(marks), marks, self.K_TEXT)
                        and len(text.scores([mk])) == len(batch))

            b.op("reindex", lambda: reindex_documents(
                spark, spark.read.parquet(f), ti, "doc_id", "text"), committed)

        def text_search():
            qs = dict(marks)
            for t in range(3):
                qs[f"q{t}"] = self.rng.sample(self.words, self.rng.choice((1, 2)))
            b.op("text_search", lambda: search_text(qs),
                 lambda pdf: text.check(pdf, qs, self.K_TEXT))

        def append(j):
            f, ids = self.append_files[j]

            def committed(_):
                # an appended vector is found by its own probe
                indexed.update(ids)
                recent[:] = ids
                probe = self.rng.choice(ids)
                return _cosine_check(search_ivf(probe), probe, self.vec, indexed, self.K_IVF)

            b.op("ivf_append", lambda: append_to_ivf_index(
                spark, spark.read.parquet(f).select("vec_id", "embedding"),
                vi, "vec_id", "embedding"), committed)

        def ivf_search(s):
            probe = self.rng.choice(recent if s % 2 == 0 and recent else sorted(indexed))
            b.op("ivf_search", lambda: search_ivf(probe),
                 lambda pdf: _cosine_check(pdf, probe, self.vec, indexed, self.K_IVF))

        def query(q):
            b.op(q, lambda: workload.QUERIES[q](spark, self.data).toPandas(),
                 lambda spdf: self.oracle.check(q, spdf), layer="operators")

        # untimed warm-up: the first search of each family runs on cold code
        qs = {"w": [self.words[0]]}
        probe = self.base_ids[0]
        if not (text.check(search_text(qs), qs, self.K_TEXT)
                and _cosine_check(search_ivf(probe), probe, self.vec, indexed, self.K_IVF)):
            raise RuntimeError("index warm-up search returned a wrong result")
        # each cycle updates both families, searching each right after its
        # update, then runs the operators. The loop runs whole cycles, so
        # every run issues the same mix of light and heavy ops, and starts
        # another only if one more cycle as long as the last still ends
        # within the clock (the first always runs)
        b.start()
        j, last = 0, 0.0
        while j < len(self.reindex) and (j == 0 or b.elapsed() + last <= b.seconds):
            c0 = b.elapsed()
            reindex(j)
            for _ in range(self.TEXT_SEARCHES):
                text_search()
            append(j)
            for s in range(self.IVF_SEARCHES):
                ivf_search(s)
            order = list(DOC_QUERIES)
            self.rng.shuffle(order)
            for q in order:
                query(q)
            last = b.elapsed() - c0
            j += 1

    def report(self, state) -> list:
        b = self.b
        build = sum(b.times("text_build", "ivf_build"))
        upd = b.times("reindex", "ivf_append")
        out = [("index_build_s", build, "s"),
               ("index_update_p50_s", statistics.median(upd) if upd else 0.0, "s")]
        out += _p50_tail("search", b.times("text_search", "ivf_search"))
        for kind in ("text_search", "ivf_search"):
            xs = b.times(kind)
            out.append((f"{kind}_p50_s", statistics.median(xs) if xs else 0.0, "s"))
        out.append(("index.max_df", self.max_df, "count"))
        return out


def _p50_tail(prefix: str, xs: list) -> list:
    if not xs:
        return [(f"{prefix}_p50_s", 0.0, "s"), (f"{prefix}_tail_s", 0.0, "s")]
    v, p = tail(xs)
    return [(f"{prefix}_p50_s", statistics.median(xs), "s"),
            (f"{prefix}_tail_s", v, f"s (p{p:g}, n={len(xs)})")]


WORKLOADS = {w.name: w for w in (Ingest, Serve, Index)}

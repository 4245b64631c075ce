"""IcebergStageCheckpoint protocol logic, exercised against an
in-memory fake catalog (no Iceberg jar ships in this container — the
fake implements exactly the DataFrame/SQL surface the checkpoint loop
touches: the Iceberg store steps, plus ``observe``/``Observation`` for
the per-bucket counts, so the idempotency-by-overwritePartitions
contract and the lineage metrics are testable)."""

from types import SimpleNamespace

from deepseek_ocr_omnidocbench_spark.sources.iceberg import IcebergStageCheckpoint


class FakeObservation:
    """Metrics land when the observed frame is written (as in Spark,
    where the write is the action that fills the Observation)."""

    def __init__(self):
        self.metrics = None

    @property
    def get(self):
        assert self.metrics is not None, "observation read before its action"
        return self.metrics


class FakeWriter:
    def __init__(self, cat, table, df):
        self.cat, self.table, self.rows = cat, table, df.rows
        self.df = df

    def partitionedBy(self, col):
        return self

    def _fire(self):
        for obs, metrics in self.df.observers:
            obs.metrics = {m.name: m.fn(self.rows) for m in metrics}

    def create(self):
        assert self.table not in self.cat.tables, "create on existing table"
        self.cat.tables[self.table] = list(self.rows)
        self._fire()

    def append(self):
        self.cat.tables.setdefault(self.table, []).extend(self.rows)
        self._fire()

    def overwritePartitions(self):
        assert self.table in self.cat.tables, "overwrite on missing table"
        buckets = {r["_bucket"] for r in self.rows}
        kept = [r for r in self.cat.tables[self.table]
                if r["_bucket"] not in buckets]
        self.cat.tables[self.table] = kept + list(self.rows)
        self._fire()


class FakeDF:
    """Rows are dicts; implements the exact chain run_stage uses."""

    def __init__(self, cat, rows, observers=()):
        self.cat, self.rows, self.observers = cat, rows, observers

    @property
    def columns(self):
        return list(dict.fromkeys(k for r in self.rows for k in r))

    @property
    def schema(self):
        # run_stage records out.schema.json() in each lineage row
        return SimpleNamespace(json=lambda: repr(self.columns))

    def _derive(self, rows):
        return FakeDF(self.cat, rows, self.observers)

    def withColumn(self, name, value):
        return self._derive([{**r, name: value.fn(r)} for r in self.rows])

    def where(self, cond):
        return self._derive([r for r in self.rows if cond.fn(r)])

    def drop(self, col):
        return self._derive([{k: v for k, v in r.items() if k != col}
                             for r in self.rows])

    def select(self, *cols):
        return self._derive([{c: r[c] for c in cols} for r in self.rows])

    def limit(self, n):
        return self._derive(self.rows[:n])

    def collect(self):
        return list(self.rows)

    def count(self):
        return len(self.rows)

    def observe(self, obs, *metrics):
        return FakeDF(self.cat, self.rows, self.observers + ((obs, metrics),))

    def writeTo(self, table):
        return FakeWriter(self.cat, table, self)

    def groupBy(self, *keys):
        return FakeGrouped(self, keys)


class FakeGrouped:
    def __init__(self, df, keys):
        self.df, self.keys = df, keys

    def agg(self, *aggs):
        groups = {}
        for r in self.df.rows:
            groups.setdefault(tuple(r[k] for k in self.keys), []).append(r)
        return self.df._derive([
            {**dict(zip(self.keys, key)), **{a.name: a.fn(rows) for a in aggs}}
            for key, rows in groups.items()])


class FakeSpark:
    def __init__(self, cat):
        self.cat = cat

    def sql(self, q):
        if q.startswith("CREATE TABLE IF NOT EXISTS"):
            name = q.split()[5].split("(")[0]
            self.cat.tables.setdefault(name, [])
            return FakeRows([])
        if q.startswith("SELECT DISTINCT partition_id"):
            table = q.split("FROM ")[1].split()[0]
            stage = q.split("stage = '")[1].split("'")[0]
            rows = [r for r in self.cat.tables.get(table, [])
                    if r["stage"] == stage]
            return FakeRows([{"partition_id": r["partition_id"]} for r in rows])
        if q.startswith("SHOW TABLES IN"):
            ns = q.split()[-1]
            names = [t.split(".", 1)[1] for t in self.cat.tables
                     if t.startswith(ns + ".")]
            return FakeRows([{"tableName": n} for n in names])
        raise AssertionError("unexpected sql: " + q)

    def table(self, name):
        return FakeDF(self.cat, self.cat.tables.get(name, []))

    def createDataFrame(self, data, schema):
        fields = [f.strip().split()[0] for f in schema.split(",")]
        return FakeDF(self.cat, [dict(zip(fields, row)) for row in data])


class FakeRows(list):
    def collect(self):
        return self


class Catalog:
    def __init__(self):
        self.tables = {}


class _Expr:
    """A row-level column: ``fn(row) -> value``."""

    def __init__(self, fn):
        self.fn = fn

    def __eq__(self, other):
        return _Expr(lambda r: self.fn(r) == other)

    def isNull(self):
        return _Expr(lambda r: self.fn(r) is None)

    def cast(self, t):
        return self

    def alias(self, name):
        self.name = name
        return self


class _Agg(_Expr):
    """An aggregate: ``fn(rows) -> value``."""

    def __truediv__(self, other):
        # SQL semantics: x / 0 is NULL
        return _Agg(lambda rows: self.fn(rows) / other.fn(rows)
                    if other.fn(rows) else None)


def _fake_env(monkeypatch, n_buckets=4):
    """Wire the fakes through the F.* and Observation uses of both the
    checkpoint loop (lineage) and the Iceberg store steps."""
    import deepseek_ocr_omnidocbench_spark.sources.iceberg as ice
    import deepseek_ocr_omnidocbench_spark.sources.lineage as lineage

    monkeypatch.setattr(ice, "iceberg_available", lambda s: True)

    def value(e, rows):
        return e.fn(rows) if isinstance(e, _Agg) else e.fn({})

    class FakeF:
        @staticmethod
        def col(name):
            return _Expr(lambda r: r.get(name))

        @staticmethod
        def lit(v):
            return _Expr(lambda r: v)

        @staticmethod
        def when(cond, v):
            return _Expr(lambda r: v if cond.fn(r) else None)

        @staticmethod
        def count(e):
            return _Agg(lambda rows: sum(e.fn(r) is not None for r in rows))

        @staticmethod
        def sum(e):
            if isinstance(e, str):
                e = FakeF.col(e)
            return _Agg(lambda rows: sum(v for v in map(e.fn, rows) if v is not None)
                        if rows else None)

        @staticmethod
        def round(e, scale):
            return _Agg(lambda rows: None if e.fn(rows) is None
                        else round(e.fn(rows), scale))

        @staticmethod
        def coalesce(*es):
            return _Agg(lambda rows: next(
                (v for v in (value(e, rows) for e in es) if v is not None), None))

        @staticmethod
        def pmod(a, b):
            return _Expr(lambda r: None)

        @staticmethod
        def xxhash64(c):
            return _Expr(lambda r: None)

        @staticmethod
        def current_timestamp():
            return _Expr(lambda r: "ts")

    monkeypatch.setattr(ice, "F", FakeF)
    monkeypatch.setattr(lineage, "F", FakeF)
    monkeypatch.setattr(lineage, "Observation", FakeObservation)
    cat = Catalog()
    ckpt = IcebergStageCheckpoint(FakeSpark(cat), "glue", n_buckets=n_buckets)
    return ice, cat, ckpt


def _input_df(cat, n_buckets=4, rows_per_bucket=3):
    rows = [{"url": "u%d-%d" % (b, i), "_bucket": b}
            for b in range(n_buckets) for i in range(rows_per_bucket)]
    return FakeDF(cat, rows)


def test_run_stage_commits_all_buckets(monkeypatch):
    ice, cat, ckpt = _fake_env(monkeypatch)
    monkeypatch.setattr(ckpt, "bucket_of", lambda df: df)
    out = ckpt.run_stage("extract", _input_df(cat), lambda df: df)
    assert len(cat.tables["glue.extract"]) == 12
    lineage = cat.tables["glue.lineage"]
    assert sorted(r["partition_id"] for r in lineage) == [0, 1, 2, 3]
    assert all(r["doc_count"] == 3 for r in lineage)
    assert out.count() == 12


def test_replayed_bucket_does_not_duplicate(monkeypatch):
    """Crash between data commit and lineage append: the bucket's data
    is in the table but not in lineage.  A restart must replace that
    bucket's partition, not append a second copy."""
    ice, cat, ckpt = _fake_env(monkeypatch)
    monkeypatch.setattr(ckpt, "bucket_of", lambda df: df)
    inp = _input_df(cat)
    # simulate the torn state: bucket 0's data committed, no lineage row
    cat.tables["glue.extract"] = [
        {"url": "u0-%d" % i, "_bucket": 0} for i in range(3)]
    ckpt.run_stage("extract", inp, lambda df: df)
    assert len(cat.tables["glue.extract"]) == 12  # not 15
    assert sorted(r["partition_id"] for r in cat.tables["glue.lineage"]) \
        == [0, 1, 2, 3]


def test_committed_buckets_are_skipped(monkeypatch):
    ice, cat, ckpt = _fake_env(monkeypatch)
    monkeypatch.setattr(ckpt, "bucket_of", lambda df: df)
    inp = _input_df(cat)
    ckpt.run_stage("extract", inp, lambda df: df)
    runs = []
    ckpt.run_stage("extract", inp,
                   lambda df: (runs.append(1), df)[1])
    assert runs == []  # everything already committed -> no transform ran


def test_retried_bucket_creates_missing_table(monkeypatch):
    """Lineage says buckets 0-2 done but the stage table was dropped:
    the first retried bucket (b=3) must create the table, not append to
    a nonexistent one."""
    ice, cat, ckpt = _fake_env(monkeypatch)
    monkeypatch.setattr(ckpt, "bucket_of", lambda df: df)
    inp = _input_df(cat)
    ckpt.run_stage("extract", inp, lambda df: df)
    del cat.tables["glue.extract"]
    # drop lineage for bucket 3 only -> restart retries just bucket 3
    cat.tables["glue.lineage"] = [
        r for r in cat.tables["glue.lineage"] if r["partition_id"] != 3]
    ckpt.run_stage("extract", inp, lambda df: df)
    assert {r["_bucket"] for r in cat.tables["glue.extract"]} == {3}


def test_failing_transform_records_failures(monkeypatch):
    """The Iceberg path records what the parquet path records: bytes,
    the exact failure count and up to MAX_FAILURE_URLS failing keys."""
    from deepseek_ocr_omnidocbench_spark.sources.lineage import MAX_FAILURE_URLS

    ice, cat, ckpt = _fake_env(monkeypatch)
    monkeypatch.setattr(ckpt, "bucket_of", lambda df: df)

    def flaky(df):  # all of bucket 1 and one row of bucket 2 fail
        bad = lambda u: u.startswith("u1-") or u == "u2-0"  # noqa: E731
        return FakeDF(df.cat, [{"url": r["url"], "n_chars": len(r["url"]),
                                "md": None if bad(r["url"]) else "ok"}
                               for r in df.rows])

    ckpt.run_stage("extract", _input_df(cat, rows_per_bucket=25), flaky,
                   failure_col="md")
    lin = {r["partition_id"]: r for r in cat.tables["glue.lineage"]}
    assert {b: r["n_failed"] for b, r in lin.items()} == {0: 0, 1: 25, 2: 1, 3: 0}
    assert len(lin[1]["failure_urls"]) == MAX_FAILURE_URLS
    assert all(u.startswith("u1-") for u in lin[1]["failure_urls"])
    assert lin[2]["failure_urls"] == ["u2-0"]
    assert lin[0]["failure_urls"] == [] and lin[3]["failure_urls"] == []
    assert lin[1]["bytes"] == sum(len("u1-%d" % i) for i in range(25))
    assert all(r["doc_count"] == 25 for r in lin.values())


def test_cross_bucket_stage_commits_one_row(monkeypatch):
    ice, cat, ckpt = _fake_env(monkeypatch)
    inp = FakeDF(cat, [{"url": "u%d" % i} for i in range(12)])
    ckpt.run_stage("dedup", inp, lambda df: df, cross_bucket=True)
    (row,) = cat.tables["glue.lineage"]
    assert (row["stage"], row["partition_id"], row["doc_count"]) == ("dedup", 0, 12)
    assert {r["_bucket"] for r in cat.tables["glue.dedup"]} == {0}
    runs = []
    out = ckpt.run_stage("dedup", inp, lambda df: (runs.append(1), df)[1],
                         cross_bucket=True)
    assert runs == [] and len(cat.tables["glue.lineage"]) == 1
    assert out.count() == 12


def test_throughput_report_reads_the_lineage_table(monkeypatch):
    """The per-stage report inherited from the parquet class reads the
    namespace's lineage table (the parquet class reads files under a
    ``root`` the Iceberg checkpoint does not have)."""
    ice, cat, ckpt = _fake_env(monkeypatch)
    monkeypatch.setattr(ckpt, "bucket_of", lambda df: df)
    ckpt.run_stage("extract", _input_df(cat), lambda df: df)
    ckpt.run_stage("dedup", FakeDF(cat, [{"url": "u%d" % i} for i in range(5)]),
                   lambda df: df, cross_bucket=True)
    report = {r["stage"]: r for r in ckpt.throughput_report().collect()}
    assert set(report) == {"extract", "dedup"}
    assert report["extract"]["docs"] == 12 and report["dedup"]["docs"] == 5
    assert report["extract"]["n_failed"] == 0
    assert report["extract"]["bytes"] == 0

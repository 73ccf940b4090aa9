"""Connector tests: paginated REST source (SURVEY S1-S5) and chunked
replace/upsert sink (K1-K5) — the non-SQL-expressible edges."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from form700_etl_spark.sinks.chunked import ChunkedSink, ChunkedSinkConfig, LocalDirClient
from form700_etl_spark.sources.fake import FILING_SCHEMA, N_PAGES, PAGE_SIZE, fake_fetch_page
from form700_etl_spark.sources.rest import RestSourceConfig
from form700_etl_spark.sources.rest_datasource import read_rest
from form700_etl_spark.io import table


class TestPaginatedRestSource:
    """The batch scan through ``read_rest``: driver page-1 probe, pages
    packed into at most ``max_parallel_pages`` partitions, every fetch
    under the config's retry policy."""

    def test_probe_discovers_page_count(self):
        from form700_etl_spark.sources.rest_datasource import (
            PaginatedRestReader,
            _config_to_options,
        )

        options = _config_to_options(RestSourceConfig(url="fake://x"))
        options["transport"] = "form700_etl_spark.sources.fake:fake_fetch_page"
        parts = PaginatedRestReader(None, options).partitions()
        assert [p for part in parts for p in part.pages] == list(range(1, N_PAGES + 1))

    def test_read_all_pages_union(self, spark):
        df = read_rest(
            spark, RestSourceConfig(url="fake://x"), FILING_SCHEMA, "filings", fake_fetch_page
        )
        rows = df.collect()
        assert len(rows) == N_PAGES * PAGE_SIZE
        ids = sorted(r.filingId for r in rows)
        assert ids == list(range(N_PAGES * PAGE_SIZE))  # no page lost or duplicated
        # nesting survives as a real Spark array<struct>
        assert rows[0].offices[0].position == "p"

    def test_per_page_retry_recovers(self, spark, tmp_path):
        from form700_etl_spark.sources.fake import flaky_fetch_page

        config = RestSourceConfig(
            url="fake://x",
            tries=3,
            retry_delay_s=0.01,
            extra={"fail_dir": str(tmp_path)},
        )
        df = read_rest(spark, config, FILING_SCHEMA, "filings", flaky_fetch_page)
        # every page failed its first fetch and was recovered by the retry
        assert sorted(r.filingId for r in df.collect()) == list(range(N_PAGES * PAGE_SIZE))
        assert len(os.listdir(tmp_path)) == N_PAGES

    def test_pages_fetched_in_parallel_partitions(self, spark):
        df = read_rest(
            spark, RestSourceConfig(url="fake://x"), FILING_SCHEMA, "filings", fake_fetch_page
        )
        # under the default cap every page is its own task
        per_partition = df.rdd.glom().map(lambda rows: sorted(r.filingId for r in rows)).collect()
        assert [ids[0] // PAGE_SIZE for ids in per_partition] == list(range(N_PAGES))
        assert all(len(ids) == PAGE_SIZE for ids in per_partition)

    def test_max_parallel_pages_caps_partitions(self, spark):
        config = RestSourceConfig(url="fake://x", max_parallel_pages=2)
        df = read_rest(spark, config, FILING_SCHEMA, "filings", fake_fetch_page)
        assert df.rdd.getNumPartitions() <= 2
        assert sorted(r.filingId for r in df.collect()) == list(range(N_PAGES * PAGE_SIZE))

    def test_config_round_trips_through_options(self):
        from form700_etl_spark.sources.rest_datasource import (
            _config_to_options,
            _options_to_config,
        )

        config = RestSourceConfig(
            url="https://api.example/filings",
            agency_prefix="SFO",
            is_redacted=True,
            auth_url="https://api.example/login",
            username="user",
            password="secret",
            extra={"Sort": ["filingDate"]},
            max_parallel_pages=3,
            tries=7,
            retry_delay_s=0.05,
            retry_backoff=3.0,
        )
        assert _options_to_config(_config_to_options(config)) == config
        # unset fields keep their defaults
        assert _options_to_config({"url": "u"}) == RestSourceConfig(url="u")


class TestPaginatedRestDataSource:
    """The same scan through Spark 4's Python DataSource V2 API."""

    def test_read_via_datasource_api(self, spark):
        from form700_etl_spark.sources.rest_datasource import register_rest_datasource

        register_rest_datasource(spark)
        df = (
            spark.read.format("paginated_rest")
            .schema(FILING_SCHEMA)
            .option("transport", "form700_etl_spark.sources.fake:fake_fetch_page")
            .option("url", "fake://filings")
            .option("key_to_pluck", "filings")
            .load()
        )
        rows = df.collect()
        assert sorted(r.filingId for r in rows) == list(range(N_PAGES * PAGE_SIZE))
        assert df.rdd.getNumPartitions() == N_PAGES  # one task per page
        assert rows[0].offices[0].position == "p"  # nested structs survive

    def test_datasource_requires_explicit_schema(self, spark):
        from form700_etl_spark.sources.rest_datasource import register_rest_datasource

        register_rest_datasource(spark)
        try:
            spark.read.format("paginated_rest").option(
                "transport", "form700_etl_spark.sources.fake:fake_fetch_page"
            ).load().collect()
            raise AssertionError("expected schema-inference refusal")
        except Exception as e:
            assert "schema" in str(e).lower()


class TestPaginatedRestStreamSource:
    """The paginated scan as a Structured Streaming source: page index
    as offset, per-page partitions, checkpointed incremental extraction
    (contrast the reference's re-extract-everything runs)."""

    def _stream_df(
        self, spark, max_pages_per_batch=2, transport="fake_fetch_page", url="fake://filings"
    ):
        from form700_etl_spark.sources.rest_datasource import register_rest_datasource

        register_rest_datasource(spark)
        return (
            spark.readStream.format("paginated_rest")
            .schema(FILING_SCHEMA)
            .option("transport", f"form700_etl_spark.sources.fake:{transport}")
            .option("url", url)
            .option("key_to_pluck", "filings")
            .option("max_pages_per_batch", str(max_pages_per_batch))
            .load()
        )

    def test_growing_feed_tailed_under_admission_cap(self, spark):
        import tempfile
        import uuid

        with tempfile.TemporaryDirectory() as tmp:
            grow_dir = f"{tmp}/feed"
            import os

            os.makedirs(grow_dir)
            df = self._stream_df(
                spark,
                max_pages_per_batch=1,
                transport="growing_fetch_page",
                url=f"fake-growing://{grow_dir}",
            )
            name = f"rest_stream_{uuid.uuid4().hex[:8]}"
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .start()
            )
            try:
                q.processAllAvailable()
                batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
            finally:
                q.stop()
            rows = spark.table(name).collect()
        # the feed grew page by page under a 1-page admission cap, so
        # every filing arrives exactly once across many micro-batches
        assert sorted(r.filingId for r in rows) == list(range(N_PAGES * PAGE_SIZE))
        assert len(batches) >= 3

    def test_restart_resumes_after_committed_page(self, spark):
        import tempfile
        import uuid

        with tempfile.TemporaryDirectory() as tmp:
            ckpt, out = f"{tmp}/ckpt", f"{tmp}/out"

            def run_once():
                # file sink (memory sink can't recover a checkpoint)
                q = (
                    self._stream_df(spark, max_pages_per_batch=64)
                    .writeStream.format("parquet")
                    .outputMode("append")
                    .option("checkpointLocation", ckpt)
                    .option("path", out)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()

            run_once()
            assert spark.read.parquet(out).count() == N_PAGES * PAGE_SIZE

            # restart on the same checkpoint: the feed has no new pages,
            # so the resumed query must extract NOTHING on top (the
            # reference would re-pull all five pages here)
            run_once()
            assert spark.read.parquet(out).count() == N_PAGES * PAGE_SIZE


class TestChunkedStreamSink:
    """chunked_dir as a streaming sink: per-batch manifest commit =
    exactly-once observable output under replay."""

    def test_rest_stream_to_chunked_sink_end_to_end(self, spark):
        import tempfile

        from form700_etl_spark.sinks.chunked_datasource import (
            committed_manifests,
            read_committed,
            register_chunked_datasource,
        )
        from form700_etl_spark.sources.rest_datasource import register_rest_datasource

        register_rest_datasource(spark)
        register_chunked_datasource(spark)
        with tempfile.TemporaryDirectory() as tmp:
            import os

            ckpt, out, grow_dir = f"{tmp}/ckpt", f"{tmp}/out", f"{tmp}/feed"
            os.makedirs(grow_dir)

            def run_once():
                # the full streaming ETL: a growing paginated feed tailed
                # incrementally -> chunked load with manifest commits
                q = (
                    spark.readStream.format("paginated_rest")
                    .schema(FILING_SCHEMA)
                    .option(
                        "transport", "form700_etl_spark.sources.fake:growing_fetch_page"
                    )
                    .option("url", f"fake-growing://{grow_dir}")
                    .option("key_to_pluck", "filings")
                    .option("max_pages_per_batch", "2")
                    .load()
                    .writeStream.format("chunked_dir")
                    .outputMode("append")
                    .option("checkpointLocation", ckpt)
                    .option("path", out)
                    .option("chunk_size", "5")
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()

            run_once()
            manifests = committed_manifests(out)
            rows = read_committed(out)
            # 5 pages under a 2-page cap -> >= 2 committed batches; audit
            # totals reconcile (A2/A3) and every filing arrives once
            assert len(manifests) >= 2
            assert sum(m["rows_inserted"] for m in manifests) == N_PAGES * PAGE_SIZE
            assert sorted(r["filingId"] for r in rows) == list(
                range(N_PAGES * PAGE_SIZE)
            )

            # restart on the same checkpoint: no new pages -> no new
            # manifests, and the committed view is unchanged
            run_once()
            assert len(committed_manifests(out)) == len(manifests)
            assert len(read_committed(out)) == N_PAGES * PAGE_SIZE


class TestStreamingPipelineEquivalence:
    """The reference ETL run CONTINUOUSLY: REST stream source ->
    clean/cast transform -> streaming chunked sink, checked equal to the
    same transform run in batch over the same feed.  Streaming is not a
    separate engine here — one transform definition serves both modes.
    """

    @staticmethod
    def _transform(df):
        from pyspark.sql import functions as F

        from form700_etl_spark.functions.cleaning import number_cast, snake_case
        from form700_etl_spark.functions.nested import stringify_structs

        out = df.selectExpr(
            "filingId",
            "filerName",
            f"{number_cast('amount')} AS amount",
            f"{stringify_structs('offices', ['office', 'position'])} AS offices",
        )
        return out.toDF(*[snake_case(c) for c in out.columns])

    def test_stream_equals_batch(self, spark):
        import tempfile

        from form700_etl_spark.sinks.chunked_datasource import (
            read_committed,
            register_chunked_datasource,
        )
        from form700_etl_spark.sources.rest_datasource import register_rest_datasource

        register_rest_datasource(spark)
        register_chunked_datasource(spark)
        with tempfile.TemporaryDirectory() as tmp:
            streamed = self._transform(
                spark.readStream.format("paginated_rest")
                .schema(FILING_SCHEMA)
                .option("transport", "form700_etl_spark.sources.fake:fake_fetch_page")
                .option("url", "fake://filings")
                .option("key_to_pluck", "filings")
                .load()
            )
            q = (
                streamed.writeStream.format("chunked_dir")
                .outputMode("append")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .option("path", f"{tmp}/out")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            got = sorted(
                (r["filing_id"], r["filer_name"], r["amount"], r["offices"])
                for r in read_committed(f"{tmp}/out")
            )

        batch = self._transform(
            read_rest(
                spark, RestSourceConfig(url="fake://filings"), FILING_SCHEMA, "filings",
                fake_fetch_page,
            )
        )
        want = sorted(
            (r.filing_id, r.filer_name, r.amount, r.offices) for r in batch.collect()
        )
        assert [g[:2] for g in got] == [w[:2] for w in want]
        # JSON round-trips numbers losslessly here (int64 cents-free longs)
        assert [int(g[2]) for g in got] == [int(w[2]) for w in want]
        assert [g[3] for g in got] == [w[3] for w in want]


class TestChunkedSink:
    def test_replace_write_and_audit(self, spark, sf_dir):
        df = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
        with tempfile.TemporaryDirectory() as tmp:
            client = LocalDirClient(tmp)
            report = ChunkedSink(client, ChunkedSinkConfig(chunk_size=100, throttle_s=0.0)).write(
                df, dataset="orders"
            )
            assert report.success, (report.total_records, report.rows_inserted)
            chunk_sizes = [
                len(json.load(open(os.path.join(tmp, f))))
                for f in os.listdir(tmp)
                if f.endswith(".json")
            ]
            assert sum(chunk_sizes) == report.total_records == df.count()
            assert max(chunk_sizes) <= 100  # every chunk respects the bound (K1)

    def test_retry_recovers_from_transient_failures(self, spark, sf_dir):
        df = table(spark, sf_dir, "region")
        with tempfile.TemporaryDirectory() as tmp:
            client = LocalDirClient(tmp, fail_times=2)
            config = ChunkedSinkConfig(chunk_size=1000, tries=5, delay_s=0.01, throttle_s=0.0)
            report = ChunkedSink(client, config).write(df, dataset="region")
            assert report.success

    def test_retry_backs_off_then_reraises_the_last_error(self, monkeypatch):
        import time

        from form700_etl_spark.io import retry

        sleeps: list[float] = []
        monkeypatch.setattr(time, "sleep", sleeps.append)
        calls: list[int] = []

        def failing():
            calls.append(1)
            raise IOError(f"attempt {len(calls)}")

        with pytest.raises(IOError, match="attempt 4"):
            retry(failing, tries=4, delay_s=0.5, backoff=3.0)
        assert len(calls) == 4
        assert sleeps == [0.5, 1.5, 4.5]

        sleeps.clear()
        outcomes = iter([IOError("transient"), "ok"])

        def flaky():
            out = next(outcomes)
            if isinstance(out, Exception):
                raise out
            return out

        assert retry(flaky, tries=3, delay_s=1.0, backoff=2.0) == "ok"
        assert sleeps == [1.0]

    def test_replace_truncates_previous_contents(self, spark, sf_dir):
        df = table(spark, sf_dir, "region")
        with tempfile.TemporaryDirectory() as tmp:
            stale = os.path.join(tmp, "stale-00000.json")
            with open(stale, "w") as fh:
                fh.write("[]")
            ChunkedSink(LocalDirClient(tmp), ChunkedSinkConfig(throttle_s=0.0)).write(df, "region")
            assert not os.path.exists(stale)

    def test_chunk_file_bytes_equal_streamed_json_dump(self, tmp_path, monkeypatch):
        """The batch client and the streaming writer write a chunk through
        one ``json.dumps`` (the C encoder); the file must hold the bytes
        ``json.dump(chunk, fh, default=str)`` writes, on every value type
        a Form 700 row carries.  The stream's chunk files keep their
        names, and its ``_BATCH-{id}`` manifest holds the bytes
        ``json.dump(manifest, fh)`` writes."""
        import datetime
        import decimal
        import re

        import pyspark
        from pyspark.sql import Row

        from form700_etl_spark.sinks.chunked_datasource import ChunkedDirStreamWriter

        chunk = [
            {
                "s": "plain",
                "u": "Zoë — ☃ \"quoted\"\n",
                "f": 0.1,
                "big": 1e22,
                "inf": float("inf"),
                "ninf": float("-inf"),
                "i": 2**63 - 1,
                "b": True,
                "n": None,
                "d": datetime.date(2024, 2, 29),
                "ts": datetime.datetime(2024, 2, 29, 23, 59, 59, 123456),
                "dec": decimal.Decimal("12.30"),
                "nested": {"xs": [1, 2.5, None, {"k": datetime.date(1999, 1, 1)}], "e": []},
            },
            {"s": "", "f": -0.0, "n": None},
        ]
        streamed = tmp_path / "streamed.json"
        with open(streamed, "w") as fh:
            json.dump(chunk, fh, default=str)
        want = streamed.read_bytes()

        client = LocalDirClient(str(tmp_path / "batch"))
        assert client.upsert("c-00000", chunk) == len(chunk)
        assert (tmp_path / "batch" / "c-00000.json").read_bytes() == want

        class _Task:
            def partitionId(self):
                return 0

        monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: _Task()))
        writer = ChunkedDirStreamWriter({"path": str(tmp_path / "stream")})
        commit = writer.write(iter([Row(**chunk[0]), Row(**chunk[1])]))
        assert commit.rows == len(chunk)
        (name,) = commit.files
        assert re.fullmatch(r"stream-p00000-[0-9a-f]{8}-c00000\.json", name), name
        assert (tmp_path / "stream" / name).read_bytes() == want

        writer.commit([commit], 0)
        manifest = tmp_path / "manifest.json"
        with open(manifest, "w") as fh:
            json.dump({"batch_id": 0, "files": [name], "rows_inserted": len(chunk)}, fh)
        assert (tmp_path / "stream" / "_BATCH-0").read_bytes() == manifest.read_bytes()


class TestCreateDDL:
    """K3 dataset-create DDL (Form700.py:406-454): column metadata from
    the schema CSV + description/tags/category from the table registry,
    created only when FourByFour == 0, idempotent under repeat calls."""

    def test_create_write_audit_roundtrip_idempotent(self, spark, sf_dir, tmp_path):
        from form700_etl_spark.schema_registry import load_schema, load_table_registry
        from form700_etl_spark.sinks.chunked import create_dataset_if_absent, make_columns

        registry = load_table_registry()
        info = registry["cover"]
        schema = load_schema("cover")
        client = LocalDirClient(str(tmp_path))

        dataset_id = create_dataset_if_absent(client, info, schema)
        assert dataset_id and dataset_id != "0"
        # idempotent: repeat create returns the same id, no duplicate DDL
        assert create_dataset_if_absent(client, info, schema) == dataset_id

        # column metadata: snake_case field names + declared types (K3)
        meta = json.load(open(os.path.join(str(tmp_path), "_dataset.json")))
        by_field = {c["fieldName"]: c for c in meta["columns"]}
        assert by_field["filing_id"]["dataTypeName"] == "text"
        assert by_field["is_annual"]["dataTypeName"] == "checkbox"
        assert meta["category"] == info.category and list(info.tags)

        # create -> write -> audit: the replace write keeps the DDL metadata
        from form700_etl_spark.plans.form700 import run_form700_pipeline, synthesize_filings

        cover = run_form700_pipeline(synthesize_filings(spark, sf_dir))["cover"]
        report = ChunkedSink(
            client, ChunkedSinkConfig(chunk_size=500, throttle_s=0.0)
        ).write(cover, dataset="cover")
        assert report.success
        assert os.path.exists(os.path.join(str(tmp_path), "_dataset.json"))

    def test_existing_four_by_four_skips_ddl(self, tmp_path):
        from dataclasses import replace

        from form700_etl_spark.schema_registry import load_schema, load_table_registry
        from form700_etl_spark.sinks.chunked import create_dataset_if_absent

        info = replace(load_table_registry()["cover"], four_by_four="abcd-1234")
        client = LocalDirClient(str(tmp_path))
        assert create_dataset_if_absent(client, info, load_schema("cover")) == "abcd-1234"
        assert not os.path.exists(os.path.join(str(tmp_path), "_dataset.json"))


class TestJobReport:
    """K8 job-log CSV + K10 status assembly (Form700.py:611-655)."""

    def test_mixed_success_failure_report(self, spark, sf_dir, tmp_path):
        import csv

        from form700_etl_spark.sinks.chunked import SinkReport, write_job_report

        ok = SinkReport(dataset="cover", total_records=10, rows_inserted=10)
        bad = SinkReport(dataset="scheduleA1", total_records=10, rows_inserted=7)
        out = str(tmp_path / "job_log.csv")
        message = write_job_report([ok, bad], out, job_name="form700-test")

        rows = list(csv.DictReader(open(out)))
        assert [r["dataset"] for r in rows] == ["cover", "scheduleA1"]
        assert rows[0]["status"] == "SUCCESS" and rows[1]["status"] == "FAILURE"
        assert rows[1]["rowsInserted"] == "7"
        # K10: overall verdict is FAILURE if any dataset failed
        assert message.splitlines()[0] == "form700-test: FAILURE"
        assert "scheduleA1: FAILURE (7/10 rows)" in message

    def test_end_to_end_with_injected_failure(self, spark, sf_dir, tmp_path):
        """Real writes: one clean dataset, one through a client whose
        injected failures exhaust the retry budget -> FAILURE row."""
        from form700_etl_spark.sinks.chunked import write_job_report

        region = table(spark, sf_dir, "region")
        reports = []
        ok_client = LocalDirClient(str(tmp_path / "ok"))
        reports.append(
            ChunkedSink(ok_client, ChunkedSinkConfig(throttle_s=0.0)).write(region, "region")
        )
        bad_client = LocalDirClient(str(tmp_path / "bad"), fail_times=5)
        try:
            report = ChunkedSink(
                bad_client,
                ChunkedSinkConfig(tries=2, delay_s=0.01, throttle_s=0.0),
            ).write(region, "region_flaky")
        except Exception:
            from form700_etl_spark.sinks.chunked import SinkReport

            report = SinkReport(dataset="region_flaky", total_records=region.count(), rows_inserted=0)
        reports.append(report)
        message = write_job_report(reports, str(tmp_path / "log.csv"))
        assert message.splitlines()[0].endswith("FAILURE")
        assert "region: SUCCESS" in message


class TestYamlConfig:
    """S8/O4: the reference's fieldConfig.yaml shape boots the engine."""

    YAML = """\
schema_dir: {schema_dir}
form700_username: user
form700_password: pass
authUrl: http://example.invalid/auth
url_cover: http://example.invalid/cover
agency_prefix: SFO
url_schedule: http://example.invalid/schedule
job_name: Form 700 ETL
log_dir: {log_dir}
"""

    def test_load_and_run_dual_from_yaml(self, spark, sf_dir, tmp_path):
        from form700_etl_spark.config import load_job_config
        from form700_etl_spark.plans.form700 import run_form700_pipeline, synthesize_filings
        from form700_etl_spark.schema_registry import RESOURCE_DIR, load_table_registry

        path = tmp_path / "fieldConfig.yaml"
        path.write_text(self.YAML.format(schema_dir=RESOURCE_DIR, log_dir=tmp_path))
        cfg = load_job_config(str(path))

        assert cfg.job_name == "Form 700 ETL"
        assert cfg.cover_source.url.endswith("/cover")
        assert cfg.schedule_source.url.endswith("/schedule")
        assert cfg.cover_source.username == "user"
        # O2 parameterization from config: redaction is a source-side flag
        assert cfg.source("cover", is_redacted=True).is_redacted
        assert not cfg.source("cover").is_redacted

        # the configured schema_dir holds the registry the dual pipeline
        # routes by (the projection reading it too is pinned below)
        registry = load_table_registry(resource_dir=cfg.schema_dir)
        assert len(registry) == 16
        filings = synthesize_filings(spark, sf_dir)
        out = {}
        for redacted in (False, True):
            src = filings if not redacted else filings.withColumn(
                "filerName", F.lit("[REDACTED]")
            )
            out.update(
                run_form700_pipeline(
                    src, registry=registry, suffix="_redacted" if redacted else ""
                )
            )
        assert len(out) == 16
        assert out["scheduleB"].count() > 0

    def test_configured_schema_dir_drives_the_projection(self, spark, sf_dir, tmp_path):
        """The clean pass reads each dataset's schema CSV from the
        configured ``schema_dir``, not the bundled resources: a field
        dropped from a copied cover schema is absent from the cover
        table."""
        import shutil

        from form700_etl_spark.config import load_job_config
        from form700_etl_spark.plans.form700 import run_form700_pipeline, synthesize_filings
        from form700_etl_spark.schema_registry import RESOURCE_DIR, load_table_registry

        schema_dir = tmp_path / "resources"
        shutil.copytree(RESOURCE_DIR, schema_dir)
        cover_csv = schema_dir / "form700_cover_schema.csv"
        lines = cover_csv.read_text().splitlines(keepends=True)
        dropped = lines[1].split(",")[1]
        cover_csv.write_text("".join(lines[:1] + lines[2:]))
        path = tmp_path / "fieldConfig.yaml"
        path.write_text(self.YAML.format(schema_dir=schema_dir, log_dir=tmp_path))
        cfg = load_job_config(str(path))

        registry = load_table_registry(resource_dir=cfg.schema_dir)
        out = run_form700_pipeline(
            synthesize_filings(spark, sf_dir), registry=registry, datasets=("cover",)
        )
        bundled = run_form700_pipeline(synthesize_filings(spark, sf_dir), datasets=("cover",))
        assert dropped in bundled["cover"].columns
        assert out["cover"].columns == [c for c in bundled["cover"].columns if c != dropped]


class TestParquetSink:
    def test_partitioned_write_roundtrip(self, spark, sf_dir):
        import tempfile

        o = table(spark, sf_dir, "orders")
        with tempfile.TemporaryDirectory() as tmp:
            out = f"{tmp}/orders_by_status"
            o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
            back = spark.read.parquet(out)
            assert back.count() == o.count()
            # partition pruning: reading one status touches only its directory
            one = back.filter(back.o_orderstatus == "O")
            assert one.count() == o.filter(o.o_orderstatus == "O").count()
            import os as _os

            dirs = [d for d in _os.listdir(out) if d.startswith("o_orderstatus=")]
            assert len(dirs) >= 2


class TestForm700Pipeline:
    def test_pipeline_tables_and_row_counts(self, spark, sf_dir):
        from form700_etl_spark.plans.form700 import run_form700_pipeline, synthesize_filings

        filings = synthesize_filings(spark, sf_dir)
        out = run_form700_pipeline(filings)
        expected_tables = {
            "cover",
            "scheduleA1",
            "scheduleA2",
            "scheduleB",
            "scheduleC",
            "scheduleD",
            "scheduleE",
            "comments",
        }
        assert set(out) == expected_tables
        n_orders = table(spark, sf_dir, "orders").count()
        assert out["cover"].count() == n_orders
        assert out["comments"].count() == n_orders
        # explode law: one row per lineitem + one NULL row per itemless order
        li = table(spark, sf_dir, "lineitem")
        orders_with_items = li.select("l_orderkey").distinct().count()
        expected = li.count() + (n_orders - orders_with_items)
        assert out["scheduleA1"].count() == expected
        # C9: all output columns are snake_case, and the dotted loan.*
        # columns collapsed (reference dot-strip-then-underscore rename)
        for name, df in out.items():
            for col in df.columns:
                assert col == col.lower() and "." not in col, (name, col)
        assert "loanhighest_balance" in out["scheduleB"].columns
        # E2 prefix only on realProperties children (scheduleA2), not gifts
        assert "real_property_parcel_address" in out["scheduleA2"].columns
        assert "amount" in out["scheduleD"].columns  # gift child, unprefixed

    def test_dual_run_private_and_redacted(self, spark, sf_dir):
        from form700_etl_spark.plans.form700 import run_dual

        out = run_dual(spark, sf_dir)
        bases = {
            "cover",
            "scheduleA1",
            "scheduleA2",
            "scheduleB",
            "scheduleC",
            "scheduleD",
            "scheduleE",
            "comments",
        }
        assert set(out) == bases | {f"{b}_redacted" for b in bases}
        # redacted twins are column-identical (reference: schema CSV pairs diff clean)
        for b in bases:
            assert out[b].columns == out[f"{b}_redacted"].columns
        assert out["cover"].count() == out["cover_redacted"].count()
        names = {r.filer_name for r in out["cover_redacted"].select("filer_name").distinct().collect()}
        assert names == {"[REDACTED]"}
        # output contract of every dataset: snake_case names in schema-CSV
        # order, the declared types (dates stay text, numbers DOUBLE — a
        # bare SQL 0.0 would make them DECIMAL), and no nullable column
        # (every clean rule coalesces NULL away)
        from form700_etl_spark.functions.cleaning import snake_case
        from form700_etl_spark.schema_registry import load_schema

        for name, df in out.items():
            declared = load_schema(name.removesuffix("_redacted")).struct_type(date_compat=True)
            want = [(snake_case(f.name), f.dataType, False) for f in declared.fields]
            assert [(f.name, f.dataType, f.nullable) for f in df.schema.fields] == want, name

    @pytest.mark.parametrize("base", ["cover", "scheduleA2", "scheduleB", "scheduleD"])
    def test_build_round_trip_budget(self, spark, sf_dir, base, monkeypatch):
        """One dataset's clean plan is a few rendered ``selectExpr``
        calls over one schema read, not a py4j round trip per composed
        Column call: at most 150 gateway commands (5,585-6,888 when each
        rule composed Columns).  Covers cover, the dotted ``loan.*``
        leaves (scheduleB), the prefixed ``realProperties`` explode
        (scheduleA2) and the ``gifts`` explode (scheduleD).  Proxy
        releases are not counted: Python's GC sends them for objects of
        earlier tests."""
        from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

        from form700_etl_spark.plans.form700 import run_form700_pipeline, synthesize_filings

        filings = synthesize_filings(spark, sf_dir, datasets=(base,))
        client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
        send, calls = client.send_command, []
        release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

        def counting(command, *args, **kwargs):
            if not command.startswith(release):
                calls.append(command)
            return send(command, *args, **kwargs)

        monkeypatch.setattr(client, "send_command", counting)
        run_form700_pipeline(filings, datasets=(base,))
        monkeypatch.undo()
        assert 0 < len(calls) <= 150, len(calls)

    def test_missing_columns_raise_key_error(self, spark, sf_dir):
        from form700_etl_spark.plans.form700 import run_form700_pipeline, synthesize_filings

        filings = synthesize_filings(spark, sf_dir, datasets=("cover",))
        with pytest.raises(KeyError, match="registry lists 'offices'"):
            run_form700_pipeline(filings.drop("offices"), datasets=("cover",))
        with pytest.raises(KeyError, match=r"missing columns \['agency'\]"):
            run_form700_pipeline(filings.drop("agency"), datasets=("cover",))


class TestFormatSurface:
    """Read/write parity across the standard file formats (SURVEY
    §2.7 K7/K8 generalized): the engine's tables must survive a
    round trip through csv, json, and orc with schema + values
    intact."""

    def test_multi_format_roundtrip_parity(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from form700_etl_spark.io import table

        src = table(spark, sf_dir, "customer").orderBy("c_custkey")
        want = [tuple(r) for r in src.collect()]
        schema = src.schema

        for fmt in ("csv", "json", "orc"):
            path = str(tmp_path / f"customer_{fmt}")
            writer = src.write.mode("overwrite")
            if fmt == "csv":
                writer = writer.option("header", True)
            writer.format(fmt).save(path)
            reader = spark.read
            if fmt == "csv":
                # csv/json are schemaless on disk: read back with the
                # engine schema (the schema registry's job in prod)
                reader = reader.option("header", True).schema(schema)
            elif fmt == "json":
                reader = reader.schema(schema)
            back = reader.format(fmt).load(path).orderBy("c_custkey")
            got = [tuple(r) for r in back.collect()]
            assert got == want, f"{fmt} round trip diverged"
            assert back.schema == schema, f"{fmt} schema diverged"


class TestEmailNotifier:
    """K9 notifier (Form700.py:556-583): message assembly with an
    injectable transport; subject carries the job verdict, body the
    per-dataset A3 reconciliation, attachment the K8 job-log CSV."""

    def _reports(self):
        from form700_etl_spark.sinks.chunked import SinkReport

        return [
            SinkReport(dataset="cover", total_records=100, rows_inserted=100),
            SinkReport(dataset="scheduleA1", total_records=250, rows_inserted=240),
        ]

    def test_mixed_run_subject_body_attachment(self, tmp_path):
        from form700_etl_spark.sinks.notify import EmailNotifier, RecordingTransport

        transport = RecordingTransport()
        notifier = EmailNotifier(
            transport, sender="etl@example.invalid", recipients=("ops@example.invalid",)
        )
        csv_path = str(tmp_path / "job_log.csv")
        msg = notifier.send_job_status(self._reports(), csv_path)

        assert transport.sent == [msg]
        assert msg["Subject"] == "form700 load: FAILURE"  # one dataset short
        assert msg["To"] == "ops@example.invalid"
        body = msg.get_body(("plain",)).get_content()
        assert "cover: SUCCESS (100/100 rows)" in body
        assert "scheduleA1: FAILURE (240/250 rows)" in body
        # the attachment is byte-identical to the K8 CSV on disk
        atts = [p for p in msg.iter_attachments()]
        assert len(atts) == 1 and atts[0].get_filename() == "job_log.csv"
        assert atts[0].get_content() == open(csv_path, newline="").read()
        assert "dataset,totalRecords,rowsInserted,status" in atts[0].get_content()

    def test_all_green_run_is_success(self, tmp_path):
        from form700_etl_spark.sinks.chunked import SinkReport
        from form700_etl_spark.sinks.notify import EmailNotifier, RecordingTransport

        transport = RecordingTransport()
        notifier = EmailNotifier(transport)
        ok = [SinkReport(dataset="cover", total_records=5, rows_inserted=5)]
        msg = notifier.send_job_status(ok, str(tmp_path / "log.csv"))
        assert msg["Subject"] == "form700 load: SUCCESS"

    def test_smtp_transport_builds_without_network(self):
        # construction is side-effect-free; the wire call is in send()
        from form700_etl_spark.sinks.notify import SmtpTransport

        t = SmtpTransport("smtp.example.invalid", 587, starttls=True)
        assert t.host == "smtp.example.invalid"


class TestBinaryFileSource:
    """`binaryFile` is the built-in ingestion path for multimodal
    payloads (one row per file: path, length, content bytes) — feed it
    straight into the multimodal feature extractor to prove the whole
    media pipeline runs off real files, not just the synthesized
    column."""

    def test_binary_files_flow_into_feature_extract(self, spark, tmp_path):
        from form700_etl_spark.operators.multimodal import extract_features

        blobs = {i: bytes([i]) * (100 + i) for i in range(8)}
        for i, payload in blobs.items():
            (tmp_path / f"media-{i}.bin").write_bytes(payload)

        files = spark.read.format("binaryFile").load(str(tmp_path))
        assert {"path", "length", "content"} <= set(files.columns)
        media = files.select(
            F.regexp_extract("path", r"media-(\d+)\.bin", 1).cast("long").alias("doc_id"),
            F.lit("image").alias("media_type"),
            F.col("content").alias("payload"),
            F.struct(
                F.col("length").alias("n_bytes"),
                F.lit("image").alias("declared_type"),
            ).alias("meta"),
        )
        rows = {r.doc_id: r for r in extract_features(media).collect()}
        assert set(rows) == set(blobs)
        for i, payload in blobs.items():
            assert rows[i].n_bytes == len(payload)

    def test_path_glob_filter_prunes_files(self, spark, tmp_path):
        (tmp_path / "keep-1.bin").write_bytes(b"a" * 10)
        (tmp_path / "skip-1.dat").write_bytes(b"b" * 10)
        kept = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(str(tmp_path))
        )
        assert kept.count() == 1


def test_dynamic_partition_overwrite_backfills_one_day_only(spark, sf_dir, tmp_path):
    """Idempotent per-partition backfill: overwriting day=2024-01-05
    with doubled values must leave every other day's files physically
    untouched (same paths), replace that day's content, and keep the
    global row count — the guarantee that makes partition-scoped
    retries safe."""
    import glob
    import os

    from pyspark.sql import functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.sinks.partitioned import insert_overwrite_partitions

    path = str(tmp_path / "events_by_day")
    e = table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    e.write.partitionBy("day").mode("overwrite").parquet(path)
    day = "2024-01-05"
    others_before = {
        p for p in glob.glob(os.path.join(path, "day=*", "*.parquet"))
        if f"day={day}" not in p
    }
    n_total = spark.read.parquet(path).count()
    n_day = spark.read.parquet(path).filter(F.col("day") == day).count()
    assert n_day > 0

    redo = e.filter(F.col("day") == day).withColumn("value", F.col("value") * 2)
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    session_mode = spark.conf.get(mode_key, None)
    insert_overwrite_partitions(redo, path, ["day"])
    assert spark.conf.get(mode_key, None) == session_mode  # a write option, not a conf

    others_after = {
        p for p in glob.glob(os.path.join(path, "day=*", "*.parquet"))
        if f"day={day}" not in p
    }
    assert others_after == others_before  # untouched partitions: same files
    got = spark.read.parquet(path)
    assert got.count() == n_total
    # the day's values really were replaced (doubled sum)
    s_new = got.filter(F.col("day") == day).agg(F.sum("value")).first()[0]
    s_old = e.filter(F.col("day") == day).agg(F.sum("value")).first()[0]
    assert abs(s_new - 2 * s_old) < 1e-6


class TestColumnarFormats:
    """ORC round-trip: Spark ships the ORC reader/writer natively, and a
    100 TB lake is rarely single-format — the engine must read back what
    other writers produced with pushdown/pruning intact, same as parquet."""

    def test_orc_roundtrip_preserves_values_and_schema(self, spark, sf_dir):
        import tempfile

        from form700_etl_spark.io import table

        src = table(spark, sf_dir, "orders")
        with tempfile.TemporaryDirectory() as tmp:
            path = f"{tmp}/orders_orc"
            src.write.orc(path)
            back = spark.read.orc(path)
            assert back.schema == src.schema
            assert back.count() == src.count()
            a = sorted(src.select("o_orderkey", "o_totalprice").collect())
            b = sorted(back.select("o_orderkey", "o_totalprice").collect())
            assert a == b

    def test_orc_scan_pushes_filters_and_prunes_columns(self, spark, sf_dir):
        import tempfile

        from form700_etl_spark.io import table

        src = table(spark, sf_dir, "orders")
        with tempfile.TemporaryDirectory() as tmp:
            path = f"{tmp}/orders_orc"
            src.write.orc(path)
            q = (
                spark.read.orc(path)
                .filter(F.col("o_orderstatus") == "F")
                .select("o_orderkey")
            )
            plan = q._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                q._jdf.queryExecution(), "formatted"
            )
            assert "PushedFilters" in plan and "o_orderstatus" in plan.split(
                "PushedFilters"
            )[1].split("]")[0], plan
            m = [s for s in plan.splitlines() if "ReadSchema" in s]
            assert m and "o_totalprice" not in m[0], m

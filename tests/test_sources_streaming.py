"""Sources (readers, chunking, sinks, checkpoint, cascade delete, SCD-2) and
Structured Streaming (windowed aggs, sessionization, merge sink)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from graphrag_toolkit_spark import fixtures
from graphrag_toolkit_spark.filters import VALID_TO_MAX
from graphrag_toolkit_spark.sources import chunking, readers, sink
from graphrag_toolkit_spark.streaming import ingest


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


class TestReaders:
    def test_jsonl_roundtrip(self, spark, tmp):
        path = os.path.join(tmp, "docs.jsonl")
        with open(path, "w") as f:
            for i in range(5):
                f.write(json.dumps({"text": f"doc body {i}", "author": f"a{i % 2}"}) + "\n")
        docs = readers.read_jsonl(spark, path)
        rows = docs.collect()
        assert len(rows) == 5
        assert all(r["doc_id"].startswith("aws::") for r in rows)
        assert rows[0]["metadata"]["author"] in ("a0", "a1")

    def test_ids_idempotent(self, spark, tmp):
        path = os.path.join(tmp, "docs.jsonl")
        with open(path, "w") as f:
            f.write(json.dumps({"text": "same text", "author": "x"}) + "\n")
        id1 = readers.read_jsonl(spark, path).head()["doc_id"]
        id2 = readers.read_jsonl(spark, path).head()["doc_id"]
        assert id1 == id2

    def test_csv_reader(self, spark, tmp):
        path = os.path.join(tmp, "docs.csv")
        with open(path, "w") as f:
            f.write("text,topic\nhello world,greetings\nspark engine,tech\n")
        rows = readers.read_csv_docs(spark, path).collect()
        assert len(rows) == 2
        assert {r["metadata"]["topic"] for r in rows} == {"greetings", "tech"}

    def test_staged_roundtrip(self, spark, tmp):
        df = spark.createDataFrame([{"doc_id": "d1", "text": "abc"}])
        out = os.path.join(tmp, "staged")
        readers.write_staged(df, out)
        back = readers.read_staged(spark, out).collect()
        assert back[0]["text"] == "abc"


class TestProviderRegistry:
    def test_structured_providers_resolve(self):
        from graphrag_toolkit_spark.sources import readers

        for name in ("json", "streaming-jsonl", "csv", "directory"):
            assert callable(readers.reader_for(name))

    def test_library_bound_providers_stub(self, spark):
        from graphrag_toolkit_spark.sources import readers

        with pytest.raises(NotImplementedError, match="pdf-layout"):
            readers.reader_for("advanced-pdf")(spark, "/nonexistent")

    def test_unknown_provider(self):
        from graphrag_toolkit_spark.sources import readers

        with pytest.raises(ValueError, match="unknown provider"):
            readers.reader_for("carrier-pigeon")

    def test_provider_status_matrix_pinned(self):
        """COVERAGE.md's S1 matrix is generated from this — drift fails here."""
        from graphrag_toolkit_spark.sources import readers

        status = readers.provider_status()
        real = {n for n, s in status.items() if s == "real"}
        assert real == {
            "json", "streaming-jsonl", "csv", "structured-data", "markdown",
            "directory", "s3-directory", "universal-directory", "document-graph",
            "docx", "pptx", "web", "pdf",
            "database",  # round-8: REAL via stdlib sqlite3 (JDBC-style ranges)
        }
        stubbed = set(status) - real
        assert stubbed == {
            "advanced-pdf", "wikipedia",
            "youtube", "github",
        }
        assert all(status[n].startswith("stub (") for n in stubbed)

    def test_allow_stub_false_fails_at_lookup(self):
        from graphrag_toolkit_spark.sources import readers

        with pytest.raises(NotImplementedError, match="pdf-layout"):
            readers.reader_for("advanced-pdf", allow_stub=False)
        assert callable(readers.reader_for("json", allow_stub=False))
        assert callable(readers.reader_for("docx", allow_stub=False))
        assert callable(readers.reader_for("web", allow_stub=False))
        assert callable(readers.reader_for("pdf", allow_stub=False))

    def test_database_reader_partitioned_parity(self, spark, tmp_path):
        """REAL sqlite read (round-8 de-stub): JDBC-style partition ranges
        must tile exactly — the union over 4 range tasks equals the direct
        sqlite result, no boundary duplicates or gaps — and the rows land
        in the canonical document frame."""
        import sqlite3

        from graphrag_toolkit_spark.sources import readers

        db = str(tmp_path / "docs.db")
        with sqlite3.connect(db) as con:
            con.execute(
                "CREATE TABLE articles (rid INTEGER PRIMARY KEY, "
                "text TEXT, author TEXT, score REAL)"
            )
            con.executemany(
                "INSERT INTO articles VALUES (?, ?, ?, ?)",
                [(i, f"body of article {i}", f"au{i % 5}", i * 0.5)
                 for i in range(97)],  # prime count: ranges can't tile evenly
            )
            con.commit()
        q = "SELECT rid, text, author, score FROM articles WHERE rid % 3 != 1"
        out = readers.read_database(
            spark, db, q, partition_col="rid", num_partitions=4
        )
        rows = out.collect()
        with sqlite3.connect(db) as con:
            want = con.execute(q).fetchall()
        assert len(rows) == len(want)
        got_texts = sorted(r["text"] for r in rows)
        assert got_texts == sorted(w[1] for w in want)
        r0 = next(r for r in rows if r["text"] == "body of article 0")
        assert r0["metadata"]["author"] == "au0"
        assert r0["metadata"]["rid"] == "0"
        # ids are content-addressed: re-read is idempotent
        again = {r["doc_id"] for r in readers.read_database(
            spark, db, q, partition_col="rid", num_partitions=2
        ).collect()}
        assert again == {r["doc_id"] for r in rows}

    def test_database_reader_single_partition_and_errors(self, spark, tmp_path):
        import sqlite3

        from graphrag_toolkit_spark.sources import readers

        db = str(tmp_path / "one.db")
        with sqlite3.connect(db) as con:
            con.execute("CREATE TABLE t (rid INTEGER, text TEXT)")
            con.execute("INSERT INTO t VALUES (1, 'only row')")
            con.commit()
        out = readers.read_database(spark, db, "SELECT rid, text FROM t")
        assert [r["text"] for r in out.collect()] == ["only row"]
        with pytest.raises(ValueError, match="no 'text' column"):
            readers.read_database(spark, db, "SELECT rid FROM t")

    def test_docx_end_to_end(self, spark, tmp_path):
        """Generated fixture .docx → read_docx → canonical docs → chunks:
        the full S1→S3 path with a real (stdlib ZIP+XML) parse."""
        import zipfile

        from graphrag_toolkit_spark.sources import chunking, readers

        w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
        body = (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<w:document xmlns:w="{w}"><w:body>'
            f"<w:p><w:r><w:t>Hello </w:t></w:r><w:r><w:t>world.</w:t></w:r></w:p>"
            f"<w:p><w:r><w:t>Second paragraph with enough words to chunk.</w:t></w:r></w:p>"
            f"<w:p/>"
            f"</w:body></w:document>"
        )
        p = tmp_path / "fixture.docx"
        with zipfile.ZipFile(p, "w") as zf:
            zf.writestr(
                "[Content_Types].xml",
                '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>',
            )
            zf.writestr("word/document.xml", body)

        docs = readers.read_docx(spark, str(tmp_path))
        rows = docs.collect()
        assert len(rows) == 1
        assert rows[0]["text"] == (
            "Hello world.\nSecond paragraph with enough words to chunk."
        )
        assert rows[0]["doc_id"]  # content-addressed id minted
        chunks = chunking.chunk_documents(docs, chunk_size=5, chunk_overlap=1)
        assert chunks.count() >= 2

    def test_pptx_end_to_end(self, spark, tmp_path):
        import zipfile

        from graphrag_toolkit_spark.sources import readers

        a = "http://schemas.openxmlformats.org/drawingml/2006/main"

        def slide(*texts):
            runs = "".join(f"<a:t>{t}</a:t>" for t in texts)
            return (
                f'<?xml version="1.0"?><p:sld '
                f'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
                f'xmlns:a="{a}"><p:cSld>{runs}</p:cSld></p:sld>'
            )

        p = tmp_path / "deck.pptx"
        with zipfile.ZipFile(p, "w") as zf:
            # slide10 written first to prove numeric (not lexicographic) order
            zf.writestr("ppt/slides/slide10.xml", slide("Closing slide"))
            zf.writestr("ppt/slides/slide1.xml", slide("Title", "Subtitle"))
            zf.writestr("ppt/slides/slide2.xml", slide("Agenda"))

        rows = readers.read_pptx(spark, str(tmp_path)).collect()
        assert len(rows) == 1
        assert rows[0]["text"] == "Title\nSubtitle\n\nAgenda\n\nClosing slide"

    def test_html_end_to_end(self, spark, tmp_path):
        """Fixture HTML -> read_html -> canonical docs -> chunks: the web
        provider's full S1->S3 path with a real (stdlib html.parser) strip."""
        from graphrag_toolkit_spark.sources import chunking, readers

        (tmp_path / "page.html").write_text(
            "<html><head><title>Spark Docs</title><script>x<1&&y>2</script>"
            "</head><body><h1>Engine &amp; pipeline</h1>"
            "<p>First paragraph with enough words to form a chunk.</p>"
            "<div>Second <b>inline-bold</b> block</div>"
            "<ul><li>alpha</li><li>beta</li></ul></body></html>"
        )
        docs = readers.read_html(spark, str(tmp_path))
        rows = docs.collect()
        assert len(rows) == 1
        assert rows[0]["text"] == (
            "Spark Docs\nEngine & pipeline\n"
            "First paragraph with enough words to form a chunk.\n"
            "Second inline-bold block\nalpha\nbeta"
        )
        assert rows[0]["doc_id"]
        chunks = chunking.chunk_documents(docs, chunk_size=5, chunk_overlap=1)
        assert chunks.count() >= 2

    def test_pdf_end_to_end(self, spark, tmp_path):
        """Generated FlateDecode fixture PDF -> read_pdf -> canonical docs:
        stdlib zlib + BT/ET text-operator scan (simple-PDF regime)."""
        import zlib

        from graphrag_toolkit_spark.sources import chunking, readers

        stream = zlib.compress(
            b"BT /F1 12 Tf 72 720 Td (Minimal PDF fixture) Tj "
            b"0 -14 Td [(with kerned ) -250 (array text)] TJ ET"
        )
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(stream)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + stream
            + b"endstream\nendobj\ntrailer\n<<>>\n%%EOF"
        )
        (tmp_path / "doc.pdf").write_bytes(pdf)
        docs = readers.read_pdf(spark, str(tmp_path))
        rows = docs.collect()
        assert len(rows) == 1
        assert rows[0]["text"] == "Minimal PDF fixture\nwith kerned array text"
        chunks = chunking.chunk_documents(docs, chunk_size=4, chunk_overlap=0)
        assert chunks.count() >= 1

    def test_pdf_image_only_raises(self):
        """HONEST LIMIT pinned: a PDF with no BT/ET text object raises
        rather than silently yielding '' (advanced-pdf stays the stub)."""
        from graphrag_toolkit_spark.sources.readers import _pdf_text

        with pytest.raises(NotImplementedError, match="no text object"):
            _pdf_text(b"%PDF-1.4\nstream\n\x00\x01imagebytes\nendstream\n%%EOF")

    def test_directory_and_jsonl_through_extract_and_build(self, spark, tmp):
        """End-to-end: reader → canonical docs → extract_and_build, the
        Spark analog of the reference integration script
        (integration-tests/.../extract_and_build.py): same corpus via TWO
        providers must build the same content-addressed statement ids."""
        import json as jsonlib
        import os

        from graphrag_toolkit_spark import indexing
        from graphrag_toolkit_spark.sources import readers

        texts = [
            "alpha engine merges tables fast under heavy load",
            "beta stream joins windows slowly while reading events",
        ]
        ddir = os.path.join(tmp, "docs_dir")
        os.makedirs(ddir)
        for i, t in enumerate(texts):
            with open(os.path.join(ddir, f"d{i}.txt"), "w") as f:
                f.write(t)
        jpath = os.path.join(tmp, "docs.jsonl")
        with open(jpath, "w") as f:
            for t in texts:
                f.write(jsonlib.dumps({"text": t}) + "\n")

        def build_stmt_values(docs):
            docs = docs.withColumn("source", F.lit("s")).withColumn(
                "lang", F.lit("en")
            )
            b = indexing.extract_and_build(docs)
            return {
                (r["statement_id"], r["value"])
                for r in b["statements"].collect()
            }

        via_dir = build_stmt_values(
            readers.reader_for("directory")(spark, ddir).withColumnRenamed(
                "doc_id", "doc_id"
            )
        )
        via_jsonl = build_stmt_values(readers.reader_for("json")(spark, jpath))
        assert via_dir and via_dir == via_jsonl


class TestTenancy:
    def test_write_read_roundtrip_isolates_tenants(self, spark):
        from graphrag_toolkit_spark.filters import for_tenant, with_tenant

        a = with_tenant(spark.createDataFrame([{"id": 1}, {"id": 2}]), "t_a")
        b = with_tenant(spark.createDataFrame([{"id": 3}]), "t_b")
        both = a.unionByName(b)
        assert {r["id"] for r in for_tenant(both, "t_a").collect()} == {1, 2}
        assert {r["id"] for r in for_tenant(both, "t_b").collect()} == {3}
        assert for_tenant(both, None).count() == 0  # default tenant is ''


class TestChunking:
    def test_pack_respects_size(self):
        sents = [f"sentence number {i} with a few words." for i in range(50)]
        chunks = chunking._pack(sents, chunk_size=30, chunk_overlap=5)
        assert all(len(c.split()) <= 30 for c in chunks)
        assert len(chunks) > 1

    def test_pack_overlap(self):
        sents = ["one two three four five six.", "seven eight nine ten eleven twelve."]
        chunks = chunking._pack(sents, chunk_size=6, chunk_overlap=2)
        # second chunk starts with last 2 tokens of the first
        first_tail = chunks[0].split()[-2:]
        assert chunks[1].split()[:2] == first_tail

    def test_long_sentence_hard_split(self):
        chunks = chunking._pack(["w " * 100], chunk_size=30, chunk_overlap=0)
        assert all(len(c.split()) <= 30 for c in chunks)
        assert sum(len(c.split()) for c in chunks) == 100

    def test_chunk_documents_df(self, spark):
        docs = spark.createDataFrame(
            [{"doc_id": i, "text": ". ".join(f"sentence {j} of doc {i} body" for j in range(40))}
             for i in range(3)]
        )
        out = chunking.chunk_documents(docs, chunk_size=40, chunk_overlap=5)
        rows = out.collect()
        assert len(rows) > 3
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r["source_id"], []).append(r["chunk_index"])
        for idxs in per_doc.values():
            assert sorted(idxs) == list(range(len(idxs)))
        assert all(r["chunk_id"].startswith(r["source_id"] + ":") for r in rows)

    def test_chunking_deterministic(self, spark):
        docs = spark.createDataFrame([{"doc_id": 1, "text": "a b c. " * 50}])
        a = sorted(map(str, chunking.chunk_documents(docs, chunk_size=20, chunk_overlap=3).collect()))
        b = sorted(map(str, chunking.chunk_documents(docs, chunk_size=20, chunk_overlap=3).collect()))
        assert a == b


class TestSinkCheckpoint:
    def test_merge_nodes_dedups(self, spark, tmp):
        df = spark.createDataFrame(
            [{"id": "a", "v": 1}, {"id": "a", "v": 1}, {"id": "b", "v": 2}]
        )
        path = os.path.join(tmp, "nodes")
        sink.merge_nodes(df, path, "id")
        assert spark.read.parquet(path).count() == 2

    def test_append_merge_idempotent(self, spark, tmp):
        path = os.path.join(tmp, "nodes")
        df1 = spark.createDataFrame([{"id": "a", "v": 1}, {"id": "b", "v": 2}])
        sink.append_merge(spark, df1, path, "id")
        df2 = spark.createDataFrame([{"id": "b", "v": 2}, {"id": "c", "v": 3}])
        sink.append_merge(spark, df2, path, "id")
        out = spark.read.parquet(path)
        assert sorted(r["id"] for r in out.collect()) == ["a", "b", "c"]

    def test_append_merge_existing_wins(self, spark, tmp):
        # re-ingesting an id with CHANGED payload keeps the stored row
        path = os.path.join(tmp, "nodes_prec")
        df1 = spark.createDataFrame([{"id": "a", "v": 1}])
        sink.append_merge(spark, df1, path, "id")
        df2 = spark.createDataFrame([{"id": "a", "v": 99}, {"id": "b", "v": 2}])
        sink.append_merge(spark, df2, path, "id")
        got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
        assert got == {"a": 1, "b": 2}

    def test_append_merge_batch_dup_deterministic(self, spark, tmp):
        # duplicate ids WITHIN one batch resolve by payload order, not shuffle order
        path = os.path.join(tmp, "nodes_dup")
        df = spark.createDataFrame(
            [{"id": "a", "v": 7}, {"id": "a", "v": 3}, {"id": "a", "v": 5}]
        ).repartition(4)
        sink.append_merge(spark, df, path, "id")
        got = [r["v"] for r in spark.read.parquet(path).collect()]
        assert got == [3]

    def test_append_merge_leaves_no_temp_dir(self, spark, tmp):
        # merging into an existing store swaps the merged table into place
        root = os.path.join(tmp, "swap")
        path = os.path.join(root, "nodes")
        sink.append_merge(spark, spark.createDataFrame([{"id": "a", "v": 1}]), path, "id")
        sink.append_merge(spark, spark.createDataFrame([{"id": "b", "v": 2}]), path, "id")
        assert os.listdir(root) == ["nodes"]
        got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
        assert got == {"a": 1, "b": 2}

    def test_checkpoint_filter(self, spark):
        work = spark.createDataFrame([{"id": "a"}, {"id": "b"}, {"id": "c"}])
        cp = spark.createDataFrame([{"id": "b"}])
        out = sink.filter_processed(work, cp, "id")
        assert sorted(r["id"] for r in out.collect()) == ["a", "c"]
        assert sink.filter_processed(work, None, "id").count() == 3

    def test_mark_processed_appends(self, spark, tmp):
        path = os.path.join(tmp, "cp")
        sink.mark_processed(spark, spark.createDataFrame([{"id": "a"}]), path, "id")
        sink.mark_processed(spark, spark.createDataFrame([{"id": "b"}]), path, "id")
        cp = spark.read.parquet(path)
        work = spark.createDataFrame([{"id": "a"}, {"id": "b"}, {"id": "z"}])
        assert [r["id"] for r in sink.filter_processed(work, cp, "id").collect()] == ["z"]


class TestCascadeDelete:
    @pytest.fixture(scope="class")
    def g(self, spark):
        return fixtures.generate("t1", seed=42).to_spark(spark)

    def test_delete_removes_closure_keeps_shared(self, spark, g):
        victim = g.sources.select("source_id").orderBy("source_id").limit(1)
        out = sink.delete_sources(
            g.sources, g.chunks, g.statements, g.facts, g.edges, victim
        )
        vid = victim.head()["source_id"]
        assert out["sources"].filter(F.col("source_id") == vid).count() == 0
        assert out["chunks"].filter(F.col("source_id") == vid).count() == 0
        # no statement of the dead source survives
        dead_chunks = g.chunks.filter(F.col("source_id") == vid).select("chunk_id")
        assert out["statements"].join(dead_chunks, "chunk_id", "left_semi").count() == 0
        # every surviving fact still has a SUPPORTS edge to a surviving statement
        supports = g.edges.filter("etype = 'SUPPORTS'").select(
            F.col("src").alias("fact_id"), F.col("dst").alias("statement_id")
        )
        live = supports.join(out["statements"], "statement_id", "left_semi")
        orphans = out["facts"].join(live, "fact_id", "left_anti")
        assert orphans.count() == 0
        # shared facts (supported by another source) survived
        assert out["facts"].count() > 0
        # edges reference no dead nodes
        assert out["edges"].join(dead_chunks.withColumnRenamed("chunk_id", "src"), "src", "left_semi").count() == 0


class TestVersioning:
    def test_scd2_close_previous(self, spark):
        hist = spark.createDataFrame(
            [
                {"logical_id": "doc1", "version": 1, "valid_from": 100},
                {"logical_id": "doc1", "version": 2, "valid_from": 200},
                {"logical_id": "doc1", "version": 3, "valid_from": 300},
                {"logical_id": "doc2", "version": 1, "valid_from": 150},
            ]
        )
        v = sink.apply_versions(hist)
        rows = {(r["logical_id"], r["version"]): (r["valid_from"], r["valid_to"])
                for r in v.collect()}
        assert rows[("doc1", 1)] == (100, 200)
        assert rows[("doc1", 2)] == (200, 300)
        assert rows[("doc1", 3)] == (300, VALID_TO_MAX)
        assert rows[("doc2", 1)] == (150, VALID_TO_MAX)
        assert sink.current_versions(v).count() == 2
        at = sink.versions_at(v, 250)
        assert {(r["logical_id"], r["version"]) for r in at.collect()} == {("doc1", 2), ("doc2", 1)}


class TestStreaming:
    def test_stream_matches_batch_windows(self, spark, tmp, sf_dir):
        """Stream the events parquet through watermarked windows; totals must
        equal the batch computation on the same rows."""
        from graphrag_toolkit_spark.session import load

        ev = load(spark, sf_dir, "events")
        src_dir = os.path.join(tmp, "stream_src")
        ev.write.mode("overwrite").parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
        )
        agg = ingest.windowed_counts(stream, window="1 hour", watermark="2 hours")
        ingest.run_stream_to_memory(agg, "win_out", output_mode="complete")
        got = {
            (r["window_start"], r["event_type"]): (r["n"], float(r["total"]))
            for r in spark.sql("SELECT * FROM win_out").collect()
        }
        batch = (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(12,2)")).alias("total"))
            .select(F.col("w.start").alias("ws"), "event_type", "n", "total")
        )
        exp = {(r["ws"], r["event_type"]): (r["n"], float(r["total"]))
               for r in batch.collect()}
        assert got == exp

    def test_streaming_jsonl_ingestion(self, spark, tmp):
        src = os.path.join(tmp, "jsonl_src")
        os.makedirs(src)
        for fidx in range(3):
            with open(os.path.join(src, f"part{fidx}.jsonl"), "w") as f:
                for i in range(4):
                    f.write(json.dumps({"doc_id": f"{fidx}-{i}", "text": f"body {fidx} {i}"}) + "\n")
        stream = ingest.read_jsonl_stream(
            spark, src, "doc_id string, text string", max_files_per_trigger=1
        )
        counts = stream.groupBy().count()
        ingest.run_stream_to_memory(counts, "jsonl_out", output_mode="complete")
        assert spark.sql("SELECT * FROM jsonl_out").head()["count"] == 12

    def test_session_window_stream(self, spark, tmp):
        rows = [
            {"user_id": 1, "ts": "2024-01-01 00:00:00", "value": 1.0},
            {"user_id": 1, "ts": "2024-01-01 00:10:00", "value": 1.0},
            {"user_id": 1, "ts": "2024-01-01 02:00:00", "value": 1.0},  # new session
            {"user_id": 2, "ts": "2024-01-01 01:00:00", "value": 1.0},
        ]
        src = os.path.join(tmp, "sess_src")
        df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        agg = ingest.session_windows(stream, gap="30 minutes")
        ingest.run_stream_to_memory(agg, "sess_out", output_mode="complete")
        out = spark.sql("SELECT * FROM sess_out").collect()
        per_user = {}
        for r in out:
            per_user.setdefault(r["user_id"], []).append(r["n_events"])
        assert sorted(per_user[1]) == [1, 2]
        assert per_user[2] == [1]

    def test_foreach_batch_merge_sink_idempotent(self, spark, tmp):
        src = os.path.join(tmp, "fb_src")
        df = spark.createDataFrame([{"id": "a", "v": 1}, {"id": "b", "v": 2}])
        df.write.mode("overwrite").json(src)
        out_path = os.path.join(tmp, "fb_out")

        def write_batch(batch_df, epoch_id):
            sink.append_merge(batch_df.sparkSession, batch_df, out_path, "id")

        stream = spark.readStream.schema("id string, v long").json(src)
        ingest.stream_to_merge_sink(
            stream, os.path.join(tmp, "fb_cp"), write_batch
        )
        assert spark.read.parquet(out_path).count() == 2
        # redelivery (fresh checkpoint → same data again) is a no-op
        ingest.stream_to_merge_sink(
            stream, os.path.join(tmp, "fb_cp2"), write_batch
        )
        assert spark.read.parquet(out_path).count() == 2


class TestEventsTimezoneGuard:
    def test_ntz_events_refuse_non_utc_session(self, spark, tmp):
        """load('events') must refuse a non-UTC session on the
        TIMESTAMP_NTZ encoding: the NTZ relabel would silently shift
        instants relative to the DuckDB oracle."""
        from graphrag_toolkit_spark.session import load

        spark.sql(
            "SELECT 1 AS event_id, TIMESTAMP_NTZ '2024-01-01 12:00:00' AS ts"
        ).write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        # UTC session: relabel succeeds and lands on the micros instant
        out = load(spark, tmp, "events")
        assert dict(out.dtypes)["ts"] == "timestamp"
        assert str(out.head()["ts"]) == "2024-01-01 12:00:00"
        orig = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            with pytest.raises(ValueError, match="UTC"):
                load(spark, tmp, "events")
        finally:
            spark.conf.set("spark.sql.session.timeZone", orig)


class TestApplyChangelog:
    def test_upsert_delete_insert_and_seq_wins(self, spark):
        from pyspark.sql import functions as F

        from graphrag_toolkit_spark.sources.sink import apply_changelog

        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "key long, status string, price double",
        )
        changes = spark.createDataFrame(
            [
                (1, 1, "U", "a2", 11.0),     # update
                (2, 1, "U", "b2", 21.0),     # update then...
                (2, 2, "D", None, None),     # ...delete wins by seq
                (4, 1, "I", "d", 40.0),      # insert new key
                (3, 2, "U", "c3", 33.0),     # later seq wins over...
                (3, 1, "U", "c2", 32.0),     # ...earlier
            ],
            "key long, seq int, op string, status string, price double",
        )
        out = {
            r["key"]: (r["status"], r["price"])
            for r in apply_changelog(base, changes, "key").collect()
        }
        assert out == {1: ("a2", 11.0), 3: ("c3", 33.0), 4: ("d", 40.0)}

    def test_untouched_keys_pass_through(self, spark):
        from graphrag_toolkit_spark.sources.sink import apply_changelog

        base = spark.createDataFrame([(9, "z", 1.5)], "key long, status string, price double")
        changes = spark.createDataFrame(
            [], "key long, seq int, op string, status string, price double"
        )
        out = apply_changelog(base, changes, "key").collect()
        assert [(r["key"], r["status"], r["price"]) for r in out] == [(9, "z", 1.5)]


class TestMaintainAggregate:
    def test_incremental_equals_full_recompute(self, spark):
        from graphrag_toolkit_spark.sources import sink

        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
            "key long, g string, v double",
        )
        # U moves key 1 to group b; D kills key 3; I adds key 9 to group c;
        # key 2 gets U then D (last seq wins)
        changes = spark.createDataFrame(
            [(1, 1, "U", "b", 11.0), (3, 1, "D", None, None),
             (2, 1, "U", "a", 99.0), (2, 2, "D", None, None),
             (9, 1, "I", "c", 5.0)],
            "key long, seq int, op string, g string, v double",
        )
        got = {
            r["g"]: (r["n"], r["total"])
            for r in sink.maintain_aggregate(
                base, changes, "key", "g", "v"
            ).collect()
        }
        snap = sink.apply_changelog(base, changes, "key")
        want = {
            r["g"]: (r["n"], r["total"])
            for r in snap.groupBy("g").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("v"), 2).cast("decimal(18,2)"))
                .cast("double").alias("total"),
            ).collect()
        }
        assert got == want
        assert got == {"b": (2, 51.0), "c": (1, 5.0)}  # group a emptied out


class TestCompaction:
    def test_many_small_files_become_few(self, spark, tmp_path):
        from graphrag_toolkit_spark.sources import sink

        p = str(tmp_path / "frag")
        spark.range(0, 10_000).repartition(64).write.parquet(p)
        import glob
        import os

        before = [f for f in glob.glob(os.path.join(p, "*.parquet"))]
        assert len(before) >= 32
        total = sum(os.path.getsize(f) for f in before)
        n = sink.compact_parquet(spark, p, target_bytes_per_file=total // 2)
        after = glob.glob(os.path.join(p, "*.parquet"))
        assert len(after) == n <= 3
        assert spark.read.parquet(p).count() == 10_000  # nothing lost

    def test_sorted_compaction_clusters_rows(self, spark, tmp_path):
        from graphrag_toolkit_spark.sources import sink

        p = str(tmp_path / "frag2")
        spark.range(0, 5000).selectExpr(
            "id", "id % 97 AS k"
        ).repartition(16).write.parquet(p)
        sink.compact_parquet(spark, p, target_bytes_per_file=10**12, sort_col="id")
        import pyarrow.parquet as pq
        import glob
        import os

        f = [x for x in glob.glob(os.path.join(p, "*.parquet"))][0]
        col = pq.read_table(f, columns=["id"])["id"].to_pylist()
        assert col == sorted(col)  # in-file clustering for min/max pruning

import os
import uuid

from pyspark.sql import functions as F

from parquet_extractor_spark.operators.extract import (
    SAMPLE_N,
    deterministic_sample,
    extract_files,
    extract_plan,
    number_sample,
)
from parquet_extractor_spark.sinks.markdown import write_files
from parquet_extractor_spark.sinks.pdf import (
    _chunks,
    pdf_ready,
    render_pdf_bytes,
    write_pdfs,
)
from parquet_extractor_spark.constants import PDF_CONTENT_CAP, PDF_TITLE_CAP


def test_sample_is_deterministic_and_exact_n(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    s1 = [r.doc_id for r in deterministic_sample(docs, "doc_id", 50).collect()]
    s2 = [r.doc_id for r in deterministic_sample(docs, "doc_id", 50).collect()]
    assert s1 == s2
    assert len(s1) == 50
    # different seed -> different sample
    s3 = [
        r.doc_id
        for r in deterministic_sample(docs, "doc_id", 50, seed=7).collect()
    ]
    assert s1 != s3


def test_sample_caps_at_table_size(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    n = docs.count()
    got = deterministic_sample(docs, "doc_id", n + 1000).count()
    assert got == n


def test_extract_plan_shape(spark, sf_small):
    df = extract_plan(spark, sf_small, n=10)
    rows = df.collect()
    assert len(rows) == 10
    for r in rows:
        assert r.filename.endswith(".md")
        assert r.filename[:4].isdigit()
        assert r.frontmatter.startswith("---\n")
        assert r.frontmatter.endswith("\n---")
        assert f"doc_id: {r.doc_id}" in r.frontmatter


def test_markdown_sink_roundtrip(spark, sf_small, tmp_path):
    out = str(tmp_path / "md")
    res = write_files(extract_files(spark, sf_small, n=15), out)
    assert res == {"written": 15, "skipped": 0, "failed": 0}
    files = sorted(os.listdir(out))
    assert len(files) == 15
    body = open(os.path.join(out, files[0]), encoding="utf-8").read()
    assert body.startswith("---\n")
    assert "# document_" in body
    # idempotent re-run skips everything (J2 semantics, api.py:248-254)
    res2 = write_files(extract_files(spark, sf_small, n=15), out)
    assert res2 == {"written": 0, "skipped": 15, "failed": 0}


def test_markdown_sink_counts_row_errors(spark, tmp_path):
    out = str(tmp_path / "errs")
    df = spark.createDataFrame(
        [("ok.md", "fine"), ("bad/../../name/x.md", "boom")],
        ["filename", "body"],
    )
    res = write_files(df, out, skip_existing=False)
    assert res["written"] == 1
    assert res["failed"] == 1  # per-row tolerance (api.py:344-346)


def test_pdf_chunking_caps():
    # 50k cap and 1000-char chunks (api.py:327, api.py:793)
    t, c = pdf_ready("T" * 200 + "é", "x" * (PDF_CONTENT_CAP + 5000))
    assert len(t) == PDF_TITLE_CAP
    assert len(c) == PDF_CONTENT_CAP
    chunks = _chunks(c)
    assert all(len(c) <= 1000 for c in chunks)
    assert sum(len(ch) for ch in chunks) == PDF_CONTENT_CAP


def test_pdf_ready_matches_spark_expressions(spark):
    """pdf_ready is the plain-Python form of the cleanup the sink used
    to run as Spark expressions (unescape_html, then regexp_replace
    scrubs and substring caps): same output on entities, non-ASCII
    (a supplementary-plane character is ONE code point in both),
    control characters, NULLs and over-cap inputs."""
    from parquet_extractor_spark.functions.html import unescape_html
    from parquet_extractor_spark.functions.text import NON_ASCII_RE

    control_re = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
    smile = "\U0001F600"
    cases = [
        ("Caf\u00e9 &amp; co", "a &amp; b &lt;i&gt; &eacute; &#128512; &nbsp;"),
        ("T" * 79 + smile + "tail", "x\x00y\x07\x0b\x0c\t\n\r\x1f\x7fz"),
        (smile * 100, smile * (PDF_CONTENT_CAP + 7)),
        ("\u00e9" * 200, "\u00e9" * PDF_CONTENT_CAP + "&amp;" * 10),
        ("plain", "&lt;" * (PDF_CONTENT_CAP + 3)),
        (None, None),
        ("", "\u2028line\u0085sep &#0; &#x1F;"),
    ]
    df = spark.createDataFrame(cases, "title string, content string")
    old_title = F.substring(
        F.regexp_replace("title", NON_ASCII_RE, "_"), 1, PDF_TITLE_CAP
    )
    old_content = F.substring(
        F.regexp_replace(
            F.regexp_replace(unescape_html("content"), NON_ASCII_RE, " "),
            control_re,
            " ",
        ),
        1,
        PDF_CONTENT_CAP,
    )
    want = [
        (r.t or "", r.c or "")
        for r in df.select(
            old_title.alias("t"), old_content.alias("c")
        ).collect()
    ]
    assert [pdf_ready(t, c) for t, c in cases] == want
    assert len(want[2][1]) == PDF_CONTENT_CAP  # caps count code points


def _jobs_fired(spark, action) -> tuple:
    """Run ``action`` under a fresh job group; (its result, job count)."""
    sc = spark.sparkContext
    group = f"sink-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_file_sinks_fire_one_spark_job(spark, sf_small, tmp_path):
    """Each sink call is ONE Spark job: no count, no listing scan, no
    separate cleanup stage — the sample, its numbering and the writes
    all run in the sink's mapPartitions job."""
    md = extract_files(spark, sf_small, n=40)
    res, n_jobs = _jobs_fired(spark, lambda: write_files(md, str(tmp_path / "md")))
    assert res == {"written": 40, "skipped": 0, "failed": 0}
    assert n_jobs == 1
    # the skip-existing re-run is one job too
    res, n_jobs = _jobs_fired(spark, lambda: write_files(md, str(tmp_path / "md")))
    assert res == {"written": 0, "skipped": 40, "failed": 0}
    assert n_jobs == 1

    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .orderBy("doc_id")
        .limit(12)
        .select(
            F.concat(F.col("doc_id").cast("string"), F.lit(".pdf")).alias(
                "filename"
            ),
            F.lit("T &amp; \u00e9").alias("title"),
            "doc_id",
            F.col("text").alias("content"),
        )
    )
    res, n_jobs = _jobs_fired(spark, lambda: write_pdfs(docs, str(tmp_path / "pdf")))
    assert res == {"written": 12, "failed": 0}
    assert n_jobs == 1


def test_markdown_sink_skip_existing_and_hidden_names(spark, tmp_path):
    """A pre-planted target is skipped and left untouched; names the
    listing treats as hidden (leading '.' or '_') are not skipped, as
    Spark's file listing never reported them."""
    out = tmp_path / "out"
    out.mkdir()
    for name in ("planted.md", ".hidden", "_meta"):
        (out / name).write_text("old")
    (out / "subdir.md").mkdir()  # not a regular file: not skipped
    df = spark.createDataFrame(
        [
            ("new.md", "a"),
            ("planted.md", "b"),
            (".hidden", "c"),
            ("_meta", "d"),
            ("subdir.md", "e"),
        ],
        "filename string, body string",
    )
    res = write_files(df, str(out))
    assert res == {"written": 3, "skipped": 1, "failed": 1}
    assert (out / "planted.md").read_text() == "old"
    assert (out / ".hidden").read_text() == "c"
    assert (out / "_meta").read_text() == "d"
    assert (out / "new.md").read_text() == "a"


def test_markdown_sink_null_filename_fails_row(spark, tmp_path):
    df = spark.createDataFrame(
        [("ok.md", "fine"), (None, "nameless"), ("empty.md", None)],
        "filename string, body string",
    )
    res = write_files(df, str(tmp_path / "out"))
    assert res == {"written": 2, "skipped": 0, "failed": 1}
    assert (tmp_path / "out" / "empty.md").read_text() == ""


def test_sample_numbering_is_dense_in_sample_key_order(spark, sf_small):
    """rn is 1..n in (_sk, doc_id) order for a sample far wider than
    any single sample-key range, and extract_plan's filename prefix is
    that rank."""
    n = 300
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    rows = number_sample(deterministic_sample(docs, "doc_id", n), "doc_id")
    got = sorted((r._sk, r.doc_id, r.rn) for r in rows.collect())
    assert [rn for _, _, rn in got] == list(range(1, n + 1))
    rank = {doc_id: rn for _, doc_id, rn in got}
    plan = extract_plan(spark, sf_small, n=n).collect()
    assert len(plan) == n
    for r in plan:
        assert r.filename[:5] == f"{rank[r.doc_id]:04d}_"


def test_pdf_sink_writes_files(spark, tmp_path):
    out = str(tmp_path / "pdf")
    df = spark.createDataFrame(
        [("a.pdf", "Title A", 1, "content a"), ("b.pdf", "Tïtle B", 2, "content b")],
        ["filename", "title", "doc_id", "content"],
    )
    res = write_pdfs(df, out)
    assert res["written"] == 2
    data = open(os.path.join(out, "a.pdf"), "rb").read()
    assert data.startswith(b"%PDF-1.4")
    # byte-determinism (executors must render identically on retry)
    assert render_pdf_bytes("t", "1", "c") == render_pdf_bytes("t", "1", "c")


def test_pdf_structure_parses(spark):
    """The PDF 1.4 output is structurally valid: every xref offset
    points at its 'N 0 obj' header, the trailer references the
    catalog, page count matches /Count, and the file ends in %%EOF
    (reference smoke shape test_wikir_extraction.py:28-34)."""
    import re

    data = render_pdf_bytes("My Title", "42", "hello world\n" * 400)
    assert data.startswith(b"%PDF-1.4")
    assert data.rstrip().endswith(b"%%EOF")

    xref_at = int(data.rstrip().rsplit(b"startxref", 1)[1].split(b"%%EOF")[0])
    assert data[xref_at : xref_at + 4] == b"xref"
    header = data[xref_at:].split(b"\n", 2)
    n_objs = int(header[1].split()[1])
    entries = data[xref_at:].split(b"\n")[2 : 2 + n_objs]
    assert entries[0].startswith(b"0000000000 65535 f")
    for i, entry in enumerate(entries[1:], start=1):
        off = int(entry.split()[0])
        assert data[off:].startswith(f"{i} 0 obj".encode())

    assert b"/Type /Catalog" in data and b"/Root 1 0 R" in data
    kids = re.search(rb"/Kids \[([^\]]*)\]", data).group(1)
    count = int(re.search(rb"/Count (\d+)", data).group(1))
    assert count == kids.count(b"0 R") and count >= 2  # long doc paginates
    # every content stream declares its exact length
    for m in re.finditer(rb"<< /Length (\d+) >>\nstream\n", data):
        ln = int(m.group(1))
        assert data[m.end() + ln : m.end() + ln + 10] == b"\nendstream"
    # escaping: specials in text stay inside balanced string literals
    esc = render_pdf_bytes("a(b)c\\d", "7", "x(y)z")
    assert rb"(a\(b\)c\\d)" in esc


def test_dataset_sink_roundtrip_partitioned(spark, sf_small, tmp_path):
    """write_dataset: partition pruning works on read-back, files are
    rolled per maxRecordsPerFile, partition dirs are lang=..."""
    import glob

    from parquet_extractor_spark.sinks.dataset import (
        read_dataset,
        write_dataset,
    )
    from parquet_extractor_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    out = str(tmp_path / "ds")
    write_dataset(
        docs,
        out,
        partition_by=["lang"],
        sort_by=["doc_id"],
        max_records_per_file=40,
        output_tasks=2,
    )
    dirs = sorted(
        p.split("=")[-1] for p in glob.glob(f"{out}/lang=*")
    )
    assert dirs == sorted(
        r.lang for r in docs.select("lang").distinct().collect()
    )
    back = read_dataset(spark, out)
    assert back.count() == docs.count()
    # partition pruning: a lang filter reads only that directory
    from parquet_extractor_spark.plans.explain import formatted_plan

    plan = formatted_plan(back.filter(back.lang == dirs[0]))
    assert "PartitionFilters" in plan
    # file rolling: each lang dir has >1 file (100 docs per lang, 40/file)
    for d in glob.glob(f"{out}/lang=*"):
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) >= 2


def test_compact_dataset_reduces_files(spark, sf_small, tmp_path):
    from parquet_extractor_spark.sinks.dataset import compact_dataset
    from parquet_extractor_spark.sources.tables import load_table

    out = str(tmp_path / "fragmented")
    docs = load_table(spark, sf_small, "documents")
    docs.repartition(24).write.parquet(out)  # deliberately fragmented
    result = compact_dataset(spark, out, target_file_mb=256)
    assert result["files_before"] == 24
    assert result["files_after"] <= 2
    back = spark.read.parquet(out)
    assert back.count() == result["rows"] == docs.count()


def test_markdown_sink_rejects_path_escaping_filenames(spark, tmp_path):
    """ADVICE r01: a filename carrying separators or an absolute path
    (possible via uploaded-parquet extract jobs) must fail that row,
    not write outside out_dir."""
    out = tmp_path / "out"
    df = spark.createDataFrame(
        [
            ("ok.md", "fine"),
            ("../escape.md", "bad"),
            ("/tmp/abs.md", "bad"),
            ("a/b.md", "bad"),
        ],
        "filename string, body string",
    )
    result = write_files(df, str(out), skip_existing=False)
    assert result["written"] == 1
    assert result["failed"] == 3
    assert sorted(os.listdir(out)) == ["ok.md"]
    assert not (tmp_path / "escape.md").exists()


def test_sample_key_large_ids_match_duckdb(spark, duck):
    """ADVICE r01: the naive (id+seed)*KNUTH overflows int64 above
    id~3.5e9 (Spark wraps, DuckDB promotes to HUGEINT). The split-
    multiply form must agree cross-engine at large-corpus id scale."""
    from parquet_extractor_spark.operators.extract import sample_key, sample_key_sql

    ids = [0, 1, 12345, 3_500_000_000, 2**40, 2**62 - 1]
    sdf = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r.doc_id: r.sk
        for r in sdf.select(
            "doc_id", sample_key(F.col("doc_id")).alias("sk")
        ).collect()
    }
    expr = sample_key_sql("doc_id")
    want = dict(
        duck.execute(
            "SELECT doc_id, "
            + expr
            + " FROM (SELECT unnest(?::BIGINT[]) AS doc_id)",
            [ids],
        ).fetchall()
    )
    assert got == want


def test_jsonl_sink_roundtrip_and_line_format(spark, sf_small, tmp_path):
    """write_jsonl: one JSON object per line, gzip'd, partition dirs,
    lossless round-trip with an explicit schema."""
    import glob
    import gzip
    import json

    from parquet_extractor_spark.sinks.dataset import (
        read_jsonl_dataset,
        write_jsonl,
    )
    from parquet_extractor_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    out = str(tmp_path / "jsonl")
    write_jsonl(docs, out, partition_by=["lang"], max_records_per_file=40)

    files = glob.glob(f"{out}/lang=*/*.json.gz")
    assert files  # partitioned, compressed
    with gzip.open(files[0], "rt") as f:
        first = f.readline()
    obj = json.loads(first)  # every line parses standalone
    assert {"doc_id", "text", "source"} <= set(obj)
    assert "lang" not in obj  # partition column lives in the path

    back = read_jsonl_dataset(
        spark, out, schema="doc_id BIGINT, text STRING, source STRING, lang STRING"
    )
    assert back.count() == docs.count()
    want = {(r.doc_id, r.text, r.lang, r.source) for r in docs.collect()}
    got = {(r.doc_id, r.text, r.lang, r.source) for r in back.collect()}
    assert got == want


def test_compact_dataset_preserves_content_exactly(spark, sf_small, tmp_path):
    """Compaction is a layout change only: row multiset identical."""
    from parquet_extractor_spark.sinks.dataset import compact_dataset
    from parquet_extractor_spark.sources.tables import load_table

    frag = str(tmp_path / "fragmented2")
    docs = load_table(spark, sf_small, "documents")
    docs.repartition(80).write.parquet(frag)
    report = compact_dataset(spark, frag, target_file_mb=256)
    assert report["files_after"] < report["files_before"]
    assert report["rows"] == docs.count()
    back = spark.read.parquet(frag)
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0


def test_pdf_source_roundtrips_pdf_sink(spark, sf_small, tmp_path):
    """The PDF source reads back what the PDF sink wrote: same text
    modulo line wrapping (the writer wraps at WRAP_COLS; whitespace-
    collapse both sides), one row per file, page counts >= 1, and a
    corrupt file keeps its row with error set instead of failing the
    job (the PERMISSIVE contract)."""
    import re

    from parquet_extractor_spark.sources.pdf import read_pdf_docs
    from parquet_extractor_spark.sources.tables import load_table

    out = str(tmp_path / "pdfs")
    docs = (
        load_table(spark, sf_small, "documents")
        .where(F.col("doc_id") < 5)
        .select(
            F.concat(F.lit("doc-"), F.col("doc_id")).alias("title"),
            F.col("doc_id"),
            F.col("text").alias("content"),
            F.concat(F.lit("d"), F.col("doc_id"), F.lit(".pdf")).alias(
                "filename"
            ),
        )
    )
    res = write_pdfs(docs, out)
    assert res == {"written": 5, "failed": 0}
    # plant one corrupt file among the real ones
    with open(os.path.join(out, "broken.pdf"), "wb") as fh:
        fh.write(b"%PDF-1.4\nthis is not really a pdf")

    got = {r.file_name: r for r in read_pdf_docs(spark, out).collect()}
    assert len(got) == 6
    assert got["broken.pdf"].error is not None
    assert got["broken.pdf"].text is None

    ws = lambda s: re.sub(r"\s+", " ", s).strip()
    for row in docs.collect():
        r = got[f"d{row.doc_id}.pdf"]
        assert r.error is None and r.n_pages >= 1
        expected = ws(
            f"{row.title} Document ID: {row.doc_id} {row.content}"
        )
        assert ws(r.text) == expected


def test_pdf_extractor_flate_and_page_order():
    """Hand-built PDF: FlateDecode stream decodes, TJ arrays and
    escape forms show, and pages come back in Kids order even when
    object numbers are shuffled."""
    import zlib

    from parquet_extractor_spark.sources.pdf import extract_pdf_text

    s1 = zlib.compress(b"BT (page one) Tj T* [(a) -120 (b)] TJ ET")
    s2 = b"BT (second \\(escaped\\) page) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        # Kids order (7 then 3) must win over object-number order
        2: b"<< /Type /Pages /Kids [7 0 R 3 0 R] /Count 2 >>",
        7: b"<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>",
        8: b"<< /Length "
        + str(len(s1)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + s1
        + b"\nendstream",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length "
        + str(len(s2)).encode()
        + b" >>\nstream\n"
        + s2
        + b"\nendstream",
    }
    buf = bytearray(b"%PDF-1.4\n")
    for k in objs:
        buf += f"{k} 0 obj\n".encode() + objs[k] + b"\nendobj\n"
    buf += b"trailer << /Root 1 0 R >>\n%%EOF"
    n_pages, text = extract_pdf_text(bytes(buf))
    assert n_pages == 2
    assert text == "page one\nab\nsecond (escaped) page"


def test_markdown_source_roundtrips_markdown_sink(spark, sf_small, tmp_path):
    """The markdown source reads back what the S8 sink wrote —
    frontmatter to a typed map, heading to title, content EXACTLY
    byte-equal to the original document text — with zero Python in
    the per-row path (pure codegen regexp/array expressions). A file
    without frontmatter still yields a row (empty meta)."""
    from parquet_extractor_spark.operators.extract import extract_files
    from parquet_extractor_spark.sources.markdown import read_markdown_docs
    from parquet_extractor_spark.sources.tables import load_table

    out = str(tmp_path / "md")
    res = write_files(extract_files(spark, sf_small, n=10), out)
    assert res["written"] == 10
    with open(os.path.join(out, "plain.md"), "w") as fh:
        fh.write("no frontmatter here")

    rows = {r.file_name: r for r in read_markdown_docs(spark, out).collect()}
    assert len(rows) == 11
    assert dict(rows["plain.md"].meta) == {}
    assert rows["plain.md"].title == ""

    originals = {
        r.doc_id: r for r in load_table(spark, sf_small, "documents").collect()
    }
    checked = 0
    for name, r in rows.items():
        if name == "plain.md":
            continue
        doc_id = int(r.meta["doc_id"])
        orig = originals[doc_id]
        assert r.title == f"document_{doc_id}"
        assert r.content == orig.text  # byte-exact round trip
        assert r.meta["lang"] == orig.lang
        assert r.meta["source"] == orig.source
        checked += 1
    assert checked == 10


def test_pdf_extractor_incremental_update_last_wins():
    """An incremental update (same object number appended later) must
    shadow the original — the xref-less approximation of PDF update
    semantics."""
    from parquet_extractor_spark.sources.pdf import extract_pdf_text

    def obj(num, body):
        return f"{num} 0 obj\n".encode() + body + b"\nendobj\n"

    s_old = b"BT (old text) Tj ET"
    s_new = b"BT (new text) Tj ET"
    buf = bytearray(b"%PDF-1.4\n")
    buf += obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    buf += obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    buf += obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    buf += obj(
        4,
        b"<< /Length "
        + str(len(s_old)).encode()
        + b" >>\nstream\n"
        + s_old
        + b"\nendstream",
    )
    # incremental update: object 4 redefined at the end of the file
    buf += obj(
        4,
        b"<< /Length "
        + str(len(s_new)).encode()
        + b" >>\nstream\n"
        + s_new
        + b"\nendstream",
    )
    n_pages, text = extract_pdf_text(bytes(buf))
    assert (n_pages, text) == (1, "new text")

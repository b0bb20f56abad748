"""W4 jobsearch-ETL tests: MHTML parse, block state machine, status
classification with prev-line fallback, relative dates, dedup,
two-level grouped sort, report rendering."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.pipelines.jobsearch import (
    capture_blocks,
    classify_status,
    dedup_blocks,
    grouped_report,
    html_to_lines,
    parse_mhtml_snapshots,
    process_block,
    render_report,
)

REF = dt.date(2025, 11, 20)


def mhtml_bytes(html_body: str) -> bytes:
    return (
        "MIME-Version: 1.0\n"
        'Content-Type: multipart/related; boundary="BOUND"\n'
        "\n"
        "--BOUND\n"
        "Content-Type: text/html; charset=utf-8\n"
        "Content-Transfer-Encoding: 8bit\n"
        "\n"
        f"{html_body}\n"
        "--BOUND--\n"
    ).encode()


def page(*body_lines: str) -> str:
    inner = "".join(f"<p>{ln}</p>" for ln in body_lines)
    return (
        "<html><head><title>skip me</title><script>var skip=1;</script></head>"
        f"<body><p>Your recent activity</p>{inner}<p>Show deleted jobs</p>"
        "<p>after end marker, ignored</p></body></html>"
    )


class TestHtmlToLines:
    def test_strips_script_and_head(self):
        lines = html_to_lines(page("Engineer at Acme").encode(), "utf-8")
        assert "skip me" not in lines and "var skip=1;" not in lines
        assert "Engineer at Acme" in lines


class TestProcessBlock:
    def test_status_in_line(self):
        out, d = process_block(["Acme Corp", "Unsuccessful 3 days ago", "Updated on X"], REF)
        assert d == REF - dt.timedelta(days=3)
        assert out == ["Acme Corp", "Unsuccessful on 2025-11-17", "Updated on X"]

    def test_unsuccessful_beats_successful(self):
        out, _ = process_block(["Job", "was unsuccessful 1 day ago", "Updated on X"], REF)
        assert out[1].startswith("Unsuccessful on")

    def test_prev_line_fallback_replaces_line(self):
        block = ["Acme", "Viewed by employer", "2 days ago", "Updated on X"]
        out, d = process_block(block, REF)
        # The consumed status line is popped; resolved line replaces it.
        assert out == ["Acme", "Viewed on 2025-11-18", "Updated on X"]

    def test_default_applied_and_update_job_dropped(self):
        block = ["Acme", "Update job", "5 days ago", "Updated on X"]
        out, _ = process_block(block, REF)
        assert out == ["Acme", "Applied on 2025-11-15", "Updated on X"]


class TestCaptureBlocks:
    def test_markers_and_flush(self):
        lines = [
            "noise before",
            "Your recent activity",
            "Job A",
            "Applied 1 day ago",
            "Updated on Nov 19",
            "Job B",
            "Rejected 2 days ago",
            "Updated on Nov 18",
            "Show deleted jobs",
            "Job C",  # after end marker: ignored
        ]
        blocks = capture_blocks(lines, REF)
        assert len(blocks) == 2
        (lines_a, date_a), (lines_b, date_b) = blocks
        assert lines_a[0] == "Job A" and date_a == dt.date(2025, 11, 19)
        assert lines_b[0] == "Job B" and date_b == dt.date(2025, 11, 18)

    def test_block_without_date_dropped(self):
        lines = ["Your recent activity", "Job A", "Updated on X", "Show deleted jobs"]
        assert capture_blocks(lines, REF) == []


class TestClassifyStatusColumn:
    def test_chained_when_order(self, spark):
        df = spark.createDataFrame(
            [("was unsuccessful",), ("successful app",), ("nothing known",)], "s string"
        )
        got = [r.c for r in df.select(classify_status(F.col("s")).alias("c")).collect()]
        assert got == ["Unsuccessful", "Successful", "Applied"]


class TestEndToEnd:
    def write_snapshot(self, tmp_path, name, *jobs):
        body = []
        for job, status_line in jobs:
            body += [job, status_line, "Updated on whenever"]
        (tmp_path / name).write_bytes(mhtml_bytes(page(*body)))

    def test_full_flow(self, spark, tmp_path):
        self.write_snapshot(
            tmp_path,
            "20251120 snapshot.mhtml",
            ("Engineer at Acme", "Applied 1 day ago"),
            ("Analyst at Beta", "Rejected 2 days ago"),
        )
        # Second file repeats Acme (same resolved text -> same signature
        # because ref date shifts with filename) and adds a new job.
        self.write_snapshot(
            tmp_path,
            "20251121 snapshot.mhtml",
            ("Engineer at Acme", "Applied 2 days ago"),
            ("Dev at Gamma", "Viewed 1 day ago"),
        )
        (tmp_path / "nodate.mhtml").write_bytes(mhtml_bytes(page("ignored")))

        blocks = parse_mhtml_snapshots(spark, str(tmp_path / "*.mhtml"))
        deduped = dedup_blocks(blocks)
        # Acme resolves to 'Applied on 2025-11-19' in BOTH files -> dedup.
        assert blocks.count() == 4 and deduped.count() == 3

        grouped = grouped_report(deduped, cutoff_date="2025-11-19")
        rows = grouped.collect()
        # Beta (11-18) is cut off; Acme and Gamma remain, desc by date.
        assert [r.group_key for r in rows] == ["Dev at Gamma", "Engineer at Acme"]
        assert rows[0].group_date == dt.date(2025, 11, 20)

        report = render_report(grouped)
        assert report[0].startswith("## Dev at Gamma")
        assert any("Applied on 2025-11-19" in ln for ln in report)

    def test_cutoff_keeps_all_when_none(self, spark, tmp_path):
        self.write_snapshot(
            tmp_path, "20251120x.mhtml", ("Solo Job", "Applied 1 day ago")
        )
        blocks = parse_mhtml_snapshots(spark, str(tmp_path / "*.mhtml"))
        assert grouped_report(dedup_blocks(blocks)).count() == 1


class TestHtmlTables:
    def test_extract_tables(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.pipelines.jobsearch import extract_html_tables

        html = (
            "<html><body>"
            "<table><tr><th>Job</th><th>Status</th></tr>"
            "<tr><td>Acme  Engineer</td><td>Applied</td></tr></table>"
            "<table><tr><td>solo</td></tr></table>"
            "</body></html>"
        )
        (tmp_path / "20251120page.mhtml").write_bytes(mhtml_bytes(html))
        out = extract_html_tables(spark, str(tmp_path / "*.mhtml")).collect()
        assert len(out) == 3
        by_key = {(r.table_idx, r.row_idx): r for r in out}
        assert by_key[(0, 0)].row_text == "Job | Status"
        assert by_key[(0, 1)].cells == ["Acme Engineer", "Applied"]  # whitespace squashed
        assert by_key[(1, 0)].row_text == "solo"

    def test_part_charset_decodes_cells(self, spark, tmp_path):
        """A latin-1 part decodes by its charset on both header paths:
        the single-part fast path and the multipart stdlib walk.  A
        charset without a codec reads as UTF-8 instead of failing."""
        from tomasz_weight_tracker_spark.pipelines.jobsearch import extract_html_tables

        html = "<table><tr><td>Z\xfcrich</td><td>caf\xe9</td></tr></table>"
        single = f"Content-Type: text/html; charset=iso-8859-1\r\n\r\n{html}"
        multi = (
            'MIME-Version: 1.0\nContent-Type: multipart/related; boundary="B"\n\n'
            "--B\nContent-Type: text/html; charset=iso-8859-1\n"
            f"Content-Transfer-Encoding: 8bit\n\n{html}\n--B--\n"
        )
        (tmp_path / "20251120single.mhtml").write_bytes(single.encode("latin-1"))
        (tmp_path / "20251120multi.mhtml").write_bytes(multi.encode("latin-1"))
        bogus = single.replace("iso-8859-1", "x-no-such-codec")
        (tmp_path / "20251120bogus.mhtml").write_bytes(bogus.encode("utf-8"))
        out = extract_html_tables(spark, str(tmp_path / "*.mhtml")).collect()
        assert sorted(r.row_text for r in out) == ["Z\xfcrich | caf\xe9"] * 3


class TestFastPartsEquivalence:
    """The round-13 header fast path must agree byte-for-byte with the
    email.BytesParser path on everything it accepts, and must decline
    (return None) anything unusual so the stdlib parser decides."""

    H = (
        "<html><body><p>Your recent activity</p><p>Job 1 - X</p>"
        "<p>Viewed 2 days ago</p><p>Updated on latest</p>"
        "<p>Show deleted jobs</p></body></html>"
    )

    def _old_lines(self, raw: bytes):
        from email import policy
        from email.parser import BytesParser

        from tomasz_weight_tracker_spark.pipelines.jobsearch import _TextExtractor

        msg = BytesParser(policy=policy.default).parsebytes(raw)
        lines = []
        for part in msg.walk():
            if part.get_content_type() == "text/html":
                payload = part.get_payload(decode=True)
                if payload:
                    parser = _TextExtractor()
                    parser.feed(
                        payload.decode(part.get_content_charset() or "utf-8", errors="replace")
                    )
                    text = "\n".join(parser.chunks)
                    lines.extend(ln.strip() for ln in text.splitlines() if ln.strip())
        return lines

    ZOO = [
        # fast-path accepts
        f"MIME-Version: 1.0\r\nContent-Type: text/html; charset=utf-8\r\n\r\n{H}".encode(),
        f"MIME-Version: 1.0\nContent-Type: text/html; charset=utf-8\n\n{H}".encode(),
        f"Content-Type: text/html\r\n\r\n{H}".encode(),
        f'Content-Type: text/html; charset="UTF-8"\r\n\r\n{H}'.encode(),
        "Content-Type: text/html; charset=iso-8859-1\r\n\r\n<p>caf\xe9</p>".encode("latin-1"),
        f"Content-Type: text/html\r\nContent-Transfer-Encoding: 8bit\r\n\r\n{H}".encode(),
        f"CONTENT-TYPE: TEXT/HTML; CHARSET=utf-8\r\n\r\n{H}".encode(),
        f"Content-Type: text/html\r\n\n{H}".encode(),  # mixed \r\n\n split
        b"Content-Type: text/plain\r\n\r\nhello world",
        b"X-Whatever: 1\r\n\r\n<p>not html by default</p>",
        b"Content-Type: text/html\r\n\r\n",
        # simple-HTML gate fallbacks (fast MIME, HTMLParser for the body)
        b"Content-Type: text/html\r\n\r\n<p>a &amp; b</p><p>x &lt; y</p>",
        b"Content-Type: text/html\r\n\r\n<p>a</p><!-- hidden <p>no</p> --><p>b</p>",
        b"Content-Type: text/html\r\n\r\n<head><title>t</title><script>var x=1;</script></head><p>keep</p>",
        b'Content-Type: text/html\r\n\r\n<p class="a>b">text</p>',
        b"Content-Type: text/html\r\n\r\n<!DOCTYPE html><p>dt</p>",
        b"Content-Type: text/html\r\n\r\n<p>text</p><p",
        b"Content-Type: text/html\r\n\r\n<p>a > b</p>",
        b"Content-Type: text/html\r\n\r\nleading<p>mid</p>trailing",
        # long text runs followed by an entity: the gate declines in
        # linear time (the unanchored form backtracked 4x per 2 chars)
        f"Content-Type: text/html\r\n\r\n<p>{'x' * 40}&amp;</p>".encode(),
        f"Content-Type: text/html\r\n\r\n<p>{'word ' * 2000}&nbsp;</p>".encode(),
        f"Content-Type: text/html\r\n\r\n{'y' * 5000}<b>z</b>{'y' * 5000}&lt;".encode(),
        # <meta> is void: text after it survives on both paths
        b"Content-Type: text/html\r\n\r\n<head><meta charset=utf-8></head><p>keep</p>",
        b'Content-Type: text/html\r\n\r\n<head><meta charset="utf-8"><title>t</title></head><p>keep</p>',
        # slow-path declines (None -> BytesParser decides)
        b"Content-Type: text/html\r\nContent-Transfer-Encoding: quoted-printable\r\n\r\n<p>caf=C3=A9</p>",
        (
            "MIME-Version: 1.0\nContent-Type: multipart/related; boundary=\"B\"\n\n"
            "--B\nContent-Type: text/html; charset=utf-8\n"
            "Content-Transfer-Encoding: 8bit\n\n" + H + "\n--B--\n"
        ).encode(),
        f"Content-Type: text/html;\r\n charset=utf-8\r\n\r\n{H}".encode(),  # folded
        f"Garbage line\r\nContent-Type: text/html\r\n\r\n{H}".encode(),  # no colon
        b"Content-Type: text/html",  # no blank line
        f'Content-Type: text/html; charset="utf 8"\r\n\r\n{H}'.encode(),
        f"Content-Type: text/plain\r\nContent-Type: text/html\r\n\r\n{H}".encode(),
        b"Content-Type: message/rfc822\r\n\r\nContent-Type: text/html\r\n\r\n<p>inner</p>",
    ]

    def test_zoo_equivalence(self):
        from tomasz_weight_tracker_spark.pipelines.jobsearch import mhtml_text_lines

        for raw in self.ZOO:
            assert mhtml_text_lines(raw) == self._old_lines(raw), raw[:80]

    def test_declines_return_none(self):
        from tomasz_weight_tracker_spark.pipelines.jobsearch import _fast_parts

        for raw in self.ZOO[-8:]:
            assert _fast_parts(raw) is None, raw[:80]

    def test_accepts_single_part(self):
        from tomasz_weight_tracker_spark.pipelines.jobsearch import _fast_parts

        got = _fast_parts(self.ZOO[0])
        assert got is not None and len(got) == 1
        payload, charset = got[0]
        assert payload == self.H.encode() and charset == "utf-8"


class TestChromeSnapshot:
    def test_meta_charset_keeps_every_line(self):
        """Chrome's "Save as MHTML" puts ``<meta charset="utf-8">`` in
        ``<head>``; the void tag must not swallow the rest of the page."""
        import quopri

        from tomasz_weight_tracker_spark.pipelines.jobsearch import mhtml_text_lines

        lines = ["Your recent activity", "Data Engineer #1", "Show deleted jobs"]
        html = (
            '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
            "<title>My Jobs | LinkedIn</title><style>.job{margin:0}</style></head>"
            "<body><main>"
            + "".join(f'<div class="job"><span dir="ltr">{ln}</span></div>' for ln in lines)
            + "</main></body></html>"
        )
        qp = quopri.encodestring(html.encode()).replace(b"\n", b"\r\n")
        raw = (
            b"From: <Saved by Blink>\r\nMIME-Version: 1.0\r\n"
            b'Content-Type: multipart/related;\r\n\ttype="text/html";\r\n'
            b'\tboundary="B"\r\n\r\n\r\n--B\r\nContent-Type: text/html\r\n'
            b"Content-Transfer-Encoding: quoted-printable\r\n\r\n"
            + qp
            + b"\r\n--B--\r\n"
        )
        assert mhtml_text_lines(raw) == lines


class TestCorruptDocuments:
    def test_corrupt_snapshot_skipped(self, spark, tmp_path):
        """A malformed document must not fail the scan (the reference
        logs and continues; a large crawl always has corrupt files)."""
        (tmp_path / "20251120 ok.mhtml").write_bytes(
            mhtml_bytes(page("Solo Job", "Applied 1 day ago", "Updated on X"))
        )
        # Invalid MIME + invalid UTF-8 + truncated content.
        (tmp_path / "20251121 bad.mhtml").write_bytes(b"\xff\xfe\x00garbage\x80")
        blocks = parse_mhtml_snapshots(spark, str(tmp_path / "*.mhtml"))
        rows = blocks.collect()
        assert len(rows) == 1 and rows[0].lines[0] == "Solo Job"

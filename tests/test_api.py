"""Serving-layer contract tests: /pages validation and the HTTP server.

Mirrors the reference's src/ApiServer/ApiHandler.const.js:19-46.
"""

from __future__ import annotations

import pytest

from ocr_search_spark import api


@pytest.fixture(scope="module")
def tiny_index(spark):
    postings = spark.createDataFrame(
        [("table", f"doc{i}", i + 1) for i in range(5)],
        "term string, doc_id string, tf int",
    )
    docs = spark.createDataFrame(
        [(f"doc{i}", f"data/pdf/f{i}.pdf", 1, f"doc{i}.png") for i in range(5)],
        "doc_id string, ori_file_path string, page_idx int, img_path string",
    )
    return postings, docs


def _err(spark, postings, docs, params) -> api.ApiError:
    with pytest.raises(api.ApiError) as ei:
        api.search_pages(spark, postings, docs, params)
    return ei.value


def test_search_pages_validation(spark, tiny_index):
    postings, docs = tiny_index
    # missing / non-string searchTerm → the reference's exact 400
    for params in ({}, {"searchTerm": 5}, {"searchTerm": None}):
        e = _err(spark, postings, docs, params)
        assert (e.status, e.message) == (
            400,
            "search term is not specified or is in wrong format",
        )
    # maxReturn is regex-validated as a STRING: '0', negatives, floats,
    # leading zeros all fail ^[1-9]\d*$ exactly as in the reference
    for bad in ("0", "-3", "3.5", "007", "x", 0, -1):
        e = _err(spark, postings, docs, {"searchTerm": "table", "maxReturn": bad})
        assert (e.status, e.message) == (400, "maxReturn should be a positive integer")


def test_search_pages_response_shape(spark, tiny_index):
    postings, docs = tiny_index
    out = api.search_pages(spark, postings, docs, {"searchTerm": "table scanned"})
    assert set(out) == {"pageList"}
    assert len(out["pageList"]) == 5
    top = out["pageList"][0]
    assert set(top) == {"oriFilePath", "pageIdx", "imgPath"}
    assert top["oriFilePath"] == "data/pdf/f4.pdf"  # max tf wins

    out2 = api.search_pages(
        spark, postings, docs, {"searchTerm": "table", "maxReturn": "2"}
    )
    assert len(out2["pageList"]) == 2
    # stopword-only query → empty pageList, not an error
    out3 = api.search_pages(spark, postings, docs, {"searchTerm": "the of"})
    assert out3["pageList"] == []


def test_search_pages_engine_error_is_500(spark, tiny_index):
    _, docs = tiny_index
    broken = spark.createDataFrame([("table", "doc0")], "term string, doc_id string")
    e = _err(spark, broken, docs, {"searchTerm": "table"})
    assert (e.status, e.message) == (500, "internal server error")


def test_http_server_end_to_end(spark, tiny_index, tmp_path):
    """The stdlib HTTP façade serves the README's curl examples
    verbatim: 200 pageList (sliced by maxReturn), the exact 400
    messages, 404 elsewhere, and /pageImg static bytes with traversal
    refused (README.md:40-65, ApiHandler.const.js:19-46)."""
    import json
    import urllib.error
    import urllib.request

    from ocr_search_spark.server import PagesServer

    postings, docs = tiny_index
    png = tmp_path / "png"
    png.mkdir()
    (png / "doc0.png").write_bytes(b"\x89PNGfake")

    def get(url):
        try:
            # generous: the first /pages request builds the serving index
            # (Spark reads both tables; later requests run no Spark job),
            # and wall-clock stretches 2-3x on a loaded host
            with urllib.request.urlopen(url, timeout=180) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    with PagesServer(spark, postings, docs, png_root=str(png)) as srv:
        base = f"http://127.0.0.1:{srv.port}"
        code, body = get(base + "/pages?searchTerm=table&maxReturn=2")
        assert code == 200
        page_list = json.loads(body)["pageList"]
        assert len(page_list) == 2
        assert set(page_list[0]) == {"oriFilePath", "pageIdx", "imgPath"}
        # ranked by max-tf desc → doc4 first
        assert page_list[0]["oriFilePath"] == "data/pdf/f4.pdf"

        code, body = get(base + "/pages?maxReturn=2")
        assert code == 400
        assert json.loads(body)["message"] == (
            "search term is not specified or is in wrong format"
        )
        code, body = get(base + "/pages?searchTerm=table&maxReturn=007")
        assert code == 400
        assert json.loads(body)["message"] == "maxReturn should be a positive integer"

        assert get(base + "/nope")[0] == 404
        code, body = get(base + "/pageImg/doc0.png")
        assert (code, body) == (200, b"\x89PNGfake")
        assert get(base + "/pageImg/missing.png")[0] == 404
        assert get(base + "/pageImg/../secret.txt")[0] == 404


def test_page_img_percent_decodes_names_and_keeps_root(tmp_path):
    """/pageImg/ percent-decodes the path like express.static, so page
    images named after files with spaces or CJK characters resolve;
    encoded traversal still lands outside the root and is refused. No
    Spark: the static route never touches the tables."""
    import http.client

    from ocr_search_spark.server import PagesServer

    png = tmp_path / "png"
    png.mkdir()
    (png / "a b.png").write_bytes(b"space")
    (png / "頁.png").write_bytes(b"cjk")
    (tmp_path / "secret.txt").write_bytes(b"secret")

    def get(port, raw_path):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        try:
            conn.request("GET", raw_path)
            r = conn.getresponse()
            return r.status, r.read()
        finally:
            conn.close()

    with PagesServer(None, None, None, png_root=str(png)) as srv:
        assert get(srv.port, "/pageImg/a%20b.png") == (200, b"space")
        assert get(srv.port, "/pageImg/%E9%A0%81.png") == (200, b"cjk")
        assert get(srv.port, "/pageImg/%2e%2e/secret.txt")[0] == 404
        assert get(srv.port, "/pageImg/..%2fsecret.txt")[0] == 404
        assert get(srv.port, "/pageImg/%2E%2E%2Fsecret.txt")[0] == 404


def test_search_pages_boolean_mode(spark, tiny_index):
    postings, docs = tiny_index
    # richer index: add a second term so AND/NOT bite
    p2 = postings.unionByName(
        spark.createDataFrame(
            [("scan", "doc1", 9), ("scan", "doc3", 2)],
            "term string, doc_id string, tf int",
        )
    )
    out = api.search_pages(
        spark, p2, docs, {"searchTerm": "table AND scan", "mode": "boolean"}
    )
    got = [p["oriFilePath"] for p in out["pageList"]]
    # doc1 (max tf 9) then doc3 (max tf 4)
    assert got == ["data/pdf/f1.pdf", "data/pdf/f3.pdf"]
    out2 = api.search_pages(
        spark, p2, docs,
        {"searchTerm": "table AND NOT scan", "mode": "boolean", "maxReturn": "2"},
    )
    got2 = [p["oriFilePath"] for p in out2["pageList"]]
    assert got2 == ["data/pdf/f4.pdf", "data/pdf/f2.pdf"]


def test_search_pages_boolean_bad_query_is_400(spark, tiny_index):
    postings, docs = tiny_index
    for bad in ["NOT table", "(table", 'table OR "']:
        e = _err(spark, postings, docs, {"searchTerm": bad, "mode": "boolean"})
        assert e.status == 400, bad
    e = _err(spark, postings, docs, {"searchTerm": "table", "mode": "wand"})
    assert e.status == 400 and "mode" in e.message


def test_search_pages_prefix_mode(spark, tiny_index):
    postings, docs = tiny_index
    p2 = postings.unionByName(
        spark.createDataFrame(
            [("tablet", "doc2", 9)], "term string, doc_id string, tf int"
        )
    )
    out = api.search_pages(
        spark, p2, docs, {"searchTerm": "tab*", "mode": "prefix", "maxReturn": "3"}
    )
    got = [p["oriFilePath"] for p in out["pageList"]]
    # 'tab*' expands to {table, tablet}: doc2 max tf 9, then doc4 (tf 5)
    assert got == ["data/pdf/f2.pdf", "data/pdf/f4.pdf", "data/pdf/f3.pdf"]
    # malformed wildcard and guard trips are 400s, not 500s
    err = _err(spark, p2, docs, {"searchTerm": "table", "mode": "prefix"})
    assert err.status == 400 and "stem" in err.message
    err = _err(spark, p2, docs, {"searchTerm": "*", "mode": "prefix"})
    assert err.status == 400


def test_search_pages_fuzzy_mode(spark, tiny_index):
    postings, docs = tiny_index
    out = api.search_pages(
        spark, postings, docs, {"searchTerm": "tble", "mode": "fuzzy"}
    )
    # 'tble' is within one edit of 'table' -> hits despite the typo
    assert [p["oriFilePath"] for p in out["pageList"]][0] == "data/pdf/f4.pdf"
    out2 = api.search_pages(
        spark, postings, docs, {"searchTerm": "zzzzz", "mode": "fuzzy"}
    )
    assert out2["pageList"] == []


def test_search_pages_unknown_mode_is_400(spark, tiny_index):
    postings, docs = tiny_index
    err = _err(spark, postings, docs, {"searchTerm": "x", "mode": "regex"})
    assert err.status == 400 and "mode" in err.message


def test_search_pages_ranks_only_cataloged_docs(spark, tiny_index):
    """A doc without a catalog row takes no slot of the top k: with the
    top doc's row gone, every mode still returns maxReturn pages."""
    postings, docs = tiny_index
    p2 = postings.unionByName(
        spark.createDataFrame(
            [("tablet", f"doc{i}", i + 1) for i in range(5)],
            "term string, doc_id string, tf int",
        )
    )
    partial = docs.where("doc_id != 'doc4'")  # doc4 holds the top tf
    for params in (
        {"searchTerm": "table OR tablet", "mode": "boolean"},
        {"searchTerm": "table", "mode": "boolean"},
        {"searchTerm": "tab*", "mode": "prefix"},
        {"searchTerm": "tble", "mode": "fuzzy"},
        {"searchTerm": "table"},
    ):
        out = api.search_pages(spark, p2, partial, {**params, "maxReturn": "3"})
        got = [p["oriFilePath"] for p in out["pageList"]]
        assert got == ["data/pdf/f3.pdf", "data/pdf/f2.pdf", "data/pdf/f1.pdf"], params

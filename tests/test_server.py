"""BLS-style HTTP serving facade (blacklab_spark/server.py) — real
HTTP round-trips against a live engine, response shapes per the
reference's ResponseStreamer JSON (SURVEY §3.1)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from blacklab_spark.server import BlsServer


@pytest.fixture(scope="module")
def server(tiny_engine):
    srv = BlsServer(tiny_engine, corpus="tiny")
    srv.start()
    yield srv
    srv.stop()


def _get(server, path, expect_status=200):
    url = f"http://127.0.0.1:{server.port}{path}"
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        assert e.code == expect_status, (e.code, e.read())
        return e.code, e.read().decode()


def _get_json(server, path, expect_status=200):
    status, body = _get(server, path, expect_status)
    assert status == expect_status
    return json.loads(body)


def test_server_and_corpus_info(server, tiny_engine):
    info = _get_json(server, "/blacklab-server")
    assert "tiny" in info["corpora"]
    ci = _get_json(server, "/blacklab-server/tiny")
    assert ci["documentCount"] == tiny_engine.index.n_docs
    assert ci["tokenCount"] > 0
    assert "word" in ci["annotatedFields"]["contents"]["annotations"]
    st = _get_json(server, "/blacklab-server/tiny/status")
    assert st["status"] == "available"


def test_hits_basic_and_counts(server, tiny_engine):
    r = _get_json(server, "/blacklab-server/tiny/hits?patt=%22visa%22")
    want = tiny_engine.find('"visa"').count()
    assert r["summary"]["numberOfHits"] == want > 0
    assert r["summary"]["actualWindowSize"] == len(r["hits"]) <= 50
    for h in r["hits"]:
        assert h["match"]["word"] == ["visa"]
        assert h["docPid"] in r["docInfos"]
    # docInfos carry metadata for every hit doc
    assert all("role" in i for i in r["docInfos"].values())


def test_hits_paging_disjoint_and_ordered(server):
    q = "/blacklab-server/tiny/hits?patt=%22the%22&number=5"
    p1 = _get_json(server, q + "&first=0")
    p2 = _get_json(server, q + "&first=5")
    assert p1["summary"]["windowFirstResult"] == 0
    assert p2["summary"]["windowFirstResult"] == 5
    k1 = {(h["docPid"], h["start"]) for h in p1["hits"]}
    k2 = {(h["docPid"], h["start"]) for h in p2["hits"]}
    assert len(k1) == len(k2) == 5 and not (k1 & k2)


def test_hits_wordsaroundhit(server):
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&wordsaroundhit=2&number=10")
    assert all(len(h["left"]["word"]) <= 2
               and len(h["right"]["word"]) <= 2 for h in r["hits"])


def test_hits_sort_property(server):
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%5B%5D%22visa%22&sort=hit:word:i&number=20")
    # [] "visa" hits sorted by matched text: first tokens nondecreasing
    firsts = [h["match"]["word"][0] for h in r["hits"]]
    assert firsts == sorted(firsts) and firsts


def test_hits_group_by_doc_field(server, tiny_engine):
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&group=field:role")
    total = sum(g["size"] for g in r["hitGroups"])
    assert total == r["summary"]["numberOfHits"] \
        == tiny_engine.find('"visa"').count()
    sizes = [g["size"] for g in r["hitGroups"]]
    assert sizes == sorted(sizes, reverse=True)


def test_hits_metadata_filter(server, tiny_engine):
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&filter=role:user")
    want = tiny_engine.find('"visa"', filter="role:user").count()
    assert r["summary"]["numberOfHits"] == want > 0
    assert all(i["role"] == "user" for i in r["docInfos"].values())


def test_hits_contextql(server, tiny_engine):
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=visa&pattlang=contextql&number=5")
    assert r["summary"]["numberOfHits"] == \
        tiny_engine.find('"visa"').count()


def test_docs_endpoints(server, tiny_engine):
    r = _get_json(server, "/blacklab-server/tiny/docs?filter=role:user"
                          "&number=5")
    n_user = tiny_engine.docs(filter="role:user").count()
    assert r["summary"]["numberOfDocs"] == n_user > 0
    assert len(r["docs"]) == 5
    pid = r["docs"][0]["docPid"]
    # per-doc hit counts with patt
    rp = _get_json(server,
                   "/blacklab-server/tiny/docs?patt=%22visa%22&number=3")
    assert all(d["numberOfHits"] >= 1 for d in rp["docs"])
    # single-doc info + contents round-trip (content store analog)
    di = _get_json(server, f"/blacklab-server/tiny/docs/{pid}")
    assert di["docPid"] == pid and di["docInfo"]["role"] == "user"
    status, text = _get(server, f"/blacklab-server/tiny/docs/{pid}/contents")
    conv, _, turn = pid.rpartition(":")
    from pyspark.sql import functions as F
    want = tiny_engine.index.doc_meta.filter(
        (F.col("conv_id") == conv)
        & (F.col("turn_idx") == int(turn))).select("text").collect()
    assert status == 200 and text == want[0]["text"]


def test_termfreq(server, tiny_engine):
    r = _get_json(server, "/blacklab-server/tiny/termfreq?number=10")
    assert len(r["termFreq"]) == 10
    # spot-check one frequency against the engine
    term, freq = next(iter(r["termFreq"].items()))
    from pyspark.sql import functions as F
    want = tiny_engine.term_frequencies().filter(
        F.col("term") == term).collect()[0]["count"]
    assert freq == want


def test_error_envelopes(server):
    e = _get_json(server, "/blacklab-server/tiny/hits", 400)
    assert e["error"]["code"] == "NO_PATTERN_GIVEN"
    e = _get_json(server,
                  "/blacklab-server/tiny/hits?patt=%22unclosed", 400)
    assert e["error"]["code"] == "PATT_SYNTAX_ERROR"
    e = _get_json(server, "/blacklab-server/nope/hits?patt=%22a%22", 404)
    assert e["error"]["code"] == "CANNOT_OPEN_INDEX"
    e = _get_json(server, "/blacklab-server/tiny/docs/zzz:0", 404)
    assert e["error"]["code"] == "DOC_NOT_FOUND"
    e = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22a%22&first=x", 400)
    assert e["error"]["code"] == "ILLEGAL_ARGUMENT"


def test_doc_snippet(server, tiny_engine):
    r = _get_json(server, "/blacklab-server/tiny/docs?number=1")
    pid = r["docs"][0]["docPid"]
    s = _get_json(server, f"/blacklab-server/tiny/docs/{pid}/snippet"
                          "?hitstart=1&hitend=2&wordsaroundhit=1")
    conv, _, turn = pid.rpartition(":")
    from pyspark.sql import functions as F
    toks = tiny_engine.index.doc_meta.filter(
        (F.col("conv_id") == conv) & (F.col("turn_idx") == int(turn))
    ).select("tokens").collect()[0]["tokens"]
    assert s["match"]["word"] == list(toks[1:2])
    assert s["left"]["word"] == list(toks[0:1])
    assert s["right"]["word"] == list(toks[2:3])
    # out-of-range hit is a 400, not a stacktrace
    e = _get_json(server, f"/blacklab-server/tiny/docs/{pid}/snippet"
                          "?hitstart=100000&hitend=100001", 400)
    assert e["error"]["code"] == "ILLEGAL_ARGUMENT"


def test_autocomplete(server, tiny_engine):
    terms = _get_json(server,
                      "/blacklab-server/tiny/autocomplete/word?term=vi")
    assert terms and all(t.startswith("vi") for t in terms)
    assert "visa" in terms and terms == sorted(terms)
    # folded prefix: uppercase input completes against the @i layer
    up = _get_json(server,
                   "/blacklab-server/tiny/autocomplete/word?term=VI")
    assert up == terms
    # pos is now a served layer (see test_autocomplete_metadata_and_layers)
    pos = _get_json(server,
                    "/blacklab-server/tiny/autocomplete/pos?term=n")
    assert pos and all(p.startswith("n") for p in pos)
    e = _get_json(server,
                  "/blacklab-server/tiny/autocomplete/bogus?term=n", 400)
    assert e["error"]["code"] == "UNKNOWN_ANNOTATION"


def test_hits_csv_output(server):
    status, body = _get(server, "/blacklab-server/tiny/hits"
                                "?patt=%22visa%22&number=3"
                                "&outputformat=csv")
    lines = body.strip().split("\n")
    assert lines[0] == "docPid,start,end,left_context,match,right_context"
    assert len(lines) == 4 and all(",visa," in ln for ln in lines[1:])
    status, gbody = _get(server, "/blacklab-server/tiny/hits"
                                 "?patt=%22visa%22&group=field:role"
                                 "&outputformat=csv")
    glines = gbody.strip().split("\n")
    assert glines[0] == "identity,size" and len(glines) >= 3


def test_hits_viewgroup(server, tiny_engine):
    """group= + viewgroup=: the hits of ONE group, windowed like a
    plain hits request (BLS viewgroup parameter)."""
    g = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&group=field:role")
    want = {x["identity"]: x["size"] for x in g["hitGroups"]}
    v = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&group=field:role"
                          "&viewgroup=user&number=1000")
    assert v["summary"]["numberOfHits"] == want["user"]
    assert all(h["match"]["word"] == ["visa"] for h in v["hits"])
    assert all(i["role"] == "user" for i in v["docInfos"].values())


def test_hits_sample(server):
    full = _get_json(server, "/blacklab-server/tiny/hits"
                             "?patt=%22the%22&number=1")
    s = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22the%22&sample=20&sampleseed=7"
                          "&number=1")
    n_full, n_s = (full["summary"]["numberOfHits"],
                   s["summary"]["numberOfHits"])
    assert 0 < n_s < n_full
    # seeded: same request → same count
    s2 = _get_json(server, "/blacklab-server/tiny/hits"
                           "?patt=%22the%22&sample=20&sampleseed=7"
                           "&number=1")
    assert s2["summary"]["numberOfHits"] == n_s


def test_docs_facets(server, tiny_engine):
    r = _get_json(server, "/blacklab-server/tiny/docs"
                          "?filter=role:user&facets=field:role,conv_id"
                          "&number=1")
    fac = r["facets"]
    # the facet runs over the SAME filtered doc set
    assert fac["role"] == [{"value": "user",
                            "size": r["summary"]["numberOfDocs"]}]
    # conv_id facet is truncated to the top 50 groups
    assert sum(x["size"] for x in fac["conv_id"]) \
        <= r["summary"]["numberOfDocs"]
    assert fac["conv_id"]
    e = _get_json(server, "/blacklab-server/tiny/docs"
                          "?facets=nope", 400)
    assert e["error"]["code"] == "UNKNOWN_FACET_FIELD"


def test_cli_start_server(tiny_index_dir):
    """CLI serve wiring: start_server opens the index and serves the
    BLS endpoints (the standalone-server analog of BLS's war)."""
    from blacklab_spark.cli import start_server
    srv = start_server(tiny_index_dir, corpus="tiny", port=0,
                       cache_size=8)
    try:
        r = _get_json(srv, "/blacklab-server/tiny/hits"
                           "?patt=%22visa%22&number=1")
        assert r["summary"]["numberOfHits"] > 0
        # cache_size wired through: repeated count served from cache
        assert srv.app.engine.cache.get_or is not None
        r2 = _get_json(srv, "/blacklab-server/tiny/hits"
                            "?patt=%22visa%22&number=1")
        assert r2["summary"]["numberOfHits"] == \
            r["summary"]["numberOfHits"]
    finally:
        srv.stop()


def test_hitfilter_property(server, tiny_engine):
    """hitfiltercrit/hitfilterval (HitsFiltered analog): keep hits
    whose property equals the value."""
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&hitfiltercrit=field:role"
                          "&hitfilterval=assistant&number=1000")
    want = tiny_engine.find('"visa"', role="assistant").count()
    assert r["summary"]["numberOfHits"] == want > 0
    assert all(i["role"] == "assistant"
               for i in r["docInfos"].values())


def test_group_sorting(server):
    by_id = _get_json(server, "/blacklab-server/tiny/hits"
                              "?patt=%22visa%22&group=field:role"
                              "&sort=identity")
    ids = [g["identity"] for g in by_id["hitGroups"]]
    assert ids == sorted(ids) and len(ids) >= 3
    by_size_asc = _get_json(server, "/blacklab-server/tiny/hits"
                                    "?patt=%22visa%22&group=field:role"
                                    "&sort=size")
    sizes = [g["size"] for g in by_size_asc["hitGroups"]]
    assert sizes == sorted(sizes)


def test_cache_info_and_metrics(server):
    _get_json(server, "/blacklab-server/tiny/hits?patt=%22visa%22"
                      "&number=1")
    ci = _get_json(server, "/blacklab-server/tiny/cache-info")
    assert ci["cacheStatus"]["maxSize"] == 0  # tiny_engine: cache off
    assert ci["requests"]["hits"]["count"] >= 1
    assert ci["requests"]["hits"]["totalMs"] > 0


def test_relations_fields_parse_cacheclear(server, tiny_engine):
    # relation-type inventory (RequestHandlerRelations analog)
    r = _get_json(server, "/blacklab-server/tiny/relations")
    from blacklab_spark.operators.relations import doc_relations
    want = doc_relations(tiny_engine.index).count()
    assert sum(r["relations"].values()) == want
    assert set(r["relations"]) >= {"det", "nn", "nmod", "root"}
    # metadata field info with top values
    f = _get_json(server, "/blacklab-server/tiny/fields/role")
    assert f["fieldName"] == "role" and f["valueListComplete"]
    assert sum(f["fieldValues"].values()) == tiny_engine.index.n_docs
    e = _get_json(server, "/blacklab-server/tiny/fields/nope", 404)
    assert e["error"]["code"] == "UNKNOWN_FIELD"
    # parse-pattern: AST + rewritten forms, no execution
    p = _get_json(server, "/blacklab-server/tiny/parse-pattern"
                          "?patt=%22the%22%20%5B%5D%7B0,2%7D%20%22cat%22")
    assert "SEQ" in p["parsed"] and p["rewritten"]
    e = _get_json(server, "/blacklab-server/tiny/parse-pattern"
                          "?patt=%22x", 400)
    assert e["error"]["code"] == "PATT_SYNTAX_ERROR"
    # cache-clear resets the serving cache
    c = _get_json(server, "/blacklab-server/tiny/cache-clear")
    assert c["status"] == "cache cleared"


def test_xml_output(server, tiny_engine):
    """outputformat=xml renders the same response tree as BLS-style
    XML (reference's default output format)."""
    import xml.etree.ElementTree as ET
    status, body = _get(server, "/blacklab-server/tiny/hits"
                                "?patt=%22visa%22&number=3"
                                "&outputformat=xml")
    root = ET.fromstring(body)
    assert root.tag == "blacklabResponse"
    want = tiny_engine.find('"visa"').count()
    assert int(root.findtext("summary/numberOfHits")) == want
    hits = root.findall("hits/hit")
    assert len(hits) == 3
    for h in hits:
        assert [w.text for w in h.findall("match/w")] == ["visa"]
        assert h.findtext("docPid")
    # docInfos pids (non-name keys) render as <entry key="...">
    assert root.findall("docInfos/entry")[0].get("key")
    # errors honor the format too
    status, err = _get(server, "/blacklab-server/tiny/hits"
                               "?outputformat=xml", 400)
    e = ET.fromstring(err)
    assert e.findtext("error/code") == "NO_PATTERN_GIVEN"
    # autocomplete's bare list → <term> elements
    status, ac = _get(server, "/blacklab-server/tiny/autocomplete/"
                              "word?term=vi&outputformat=xml")
    terms = [t.text for t in ET.fromstring(ac).findall("term")]
    assert "visa" in terms


def test_docs_grouped(server, tiny_engine):
    """/docs?group=field:role — DocGroups, sizes only."""
    r = _get_json(server, "/blacklab-server/tiny/docs?group=field:role")
    got = {g["identity"]: g["size"] for g in r["docGroups"]}
    assert sum(got.values()) == r["summary"]["numberOfDocs"] \
        == tiny_engine.index.n_docs
    assert r["summary"]["numberOfGroups"] == len(got) >= 3
    # grouped over a filtered set
    rf = _get_json(server, "/blacklab-server/tiny/docs"
                           "?filter=role:user&group=field:role")
    assert [g["identity"] for g in rf["docGroups"]] == ["user"]
    e = _get_json(server, "/blacklab-server/tiny/docs?group=nope", 400)
    assert e["error"]["code"] == "UNKNOWN_GROUP_PROPERTY"


def test_hits_calc_colloc(server, tiny_engine):
    """/hits?calc=colloc → collocation token frequencies
    (RequestHandlerHits calc branch; golden shape
    test/data/saved-responses-integrated/colloc/*.json)."""
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&calc=colloc"
                          "&wordsaroundhit=3")
    tf = r["tokenFrequencies"]
    from blacklab_spark.operators.hits import collocations
    want = {x["term"]: x["count"]
            for x in collocations(tiny_engine.index, "visa",
                                  window=3).collect()}
    assert tf == want and tf
    assert "visa" not in tf or want.get("visa") == tf["visa"]


def test_token_spans_reproduce_tokens():
    from blacklab_spark.tokenizer import py_token_spans, py_tokens_sensitive
    for text in ["the visa café was very GOOD",
                 "  leading spaces, punct! and 2 numbers 42 ",
                 "", "one", "naïve résumé — ßtraße"]:
        spans = py_token_spans(text)
        assert [text[a:b] for a, b in spans] == py_tokens_sensitive(text)


def test_doc_contents_highlight(server, tiny_engine):
    """/docs/<pid>/contents?patt= wraps this doc's hits in <hl>
    (ResultDocContents → DocUtil.highlightContent)."""
    h = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&number=1")
    pid = h["hits"][0]["docPid"]
    plain = _get(server, f"/blacklab-server/tiny/docs/{pid}/contents")[1]
    assert "<hl>" not in plain
    marked = _get(server, f"/blacklab-server/tiny/docs/{pid}/contents"
                          "?patt=%22visa%22")[1]
    assert "<hl>visa</hl>" in marked
    # content unchanged apart from the inserted tags
    assert marked.replace("<hl>", "").replace("</hl>", "") == plain
    starts = marked.count("<hl>")
    ends = marked.count("</hl>")
    assert starts == ends >= 1


def test_doc_contents_word_boundaries(server):
    h = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22the%22&number=1")
    pid = h["hits"][0]["docPid"]
    full = _get(server, f"/blacklab-server/tiny/docs/{pid}/contents")[1]
    part = _get(server, f"/blacklab-server/tiny/docs/{pid}/contents"
                        "?wordstart=1&wordend=3")[1]
    from blacklab_spark.tokenizer import py_token_spans
    spans = py_token_spans(full)
    assert part == full[spans[1][0]:spans[2][1]]
    # highlight inside a cut window: hit fully inside is marked
    part2 = _get(server, f"/blacklab-server/tiny/docs/{pid}/contents"
                         "?patt=%22the%22&wordstart=0&wordend=500")[1]
    assert "<hl>the</hl>" in part2
    # reference boundary validation
    status, body = _get(server,
                        f"/blacklab-server/tiny/docs/{pid}/contents"
                        "?wordstart=3&wordend=2", expect_status=400)
    assert json.loads(body)["error"]["code"] == "ILLEGAL_BOUNDARIES"


def test_hits_usecontent_orig(server, tiny_engine):
    """usecontent=orig → concordances from the content store:
    left/match/right are original-text fragments
    (ConcordanceType.CONTENT_STORE, ResponseStreamer xmlFragment)."""
    q = ("/blacklab-server/tiny/hits?patt=%22visa%22"
         "&number=5&wordsaroundhit=2")
    fi = _get_json(server, q)
    orig = _get_json(server, q + "&usecontent=orig")
    assert len(orig["hits"]) == len(fi["hits"]) > 0
    for hf, ho in zip(fi["hits"], orig["hits"]):
        assert (ho["docPid"], ho["start"], ho["end"]) == \
            (hf["docPid"], hf["start"], hf["end"])
        assert isinstance(ho["match"], str)
        # the original fragment tokenizes to the KWIC token lists
        from blacklab_spark.tokenizer import py_tokens_insensitive
        assert py_tokens_insensitive(ho["match"]) == hf["match"]["word"]
        assert py_tokens_insensitive(ho["left"]) == hf["left"]["word"]
        assert py_tokens_insensitive(ho["right"]) == hf["right"]["word"]
    err = _get_json(server, q + "&usecontent=bogus", expect_status=400)
    assert err["error"]["code"] == "ILLEGAL_ARGUMENT"
    # CSV stays well-formed with orig fragments
    status, csv_body = _get(server, q + "&usecontent=orig"
                                        "&outputformat=csv")
    assert status == 200 and csv_body.startswith("docPid,")


def test_hits_param_parity_batch(server, tiny_engine):
    """context= alias, explain=, includetokencount=, samplenum=,
    maxretrieve=/maxcount=, matchInfos, csvsepline/csvsummary —
    WebserviceParameter.java parity."""
    # context= is the current name for wordsaroundhit
    a = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&context=2&number=3")
    b = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&wordsaroundhit=2&number=3")
    assert [h["left"] for h in a["hits"]] == \
        [h["left"] for h in b["hits"]]

    # explain: original + rewritten query in the summary
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22the%22%20%5B%5D&explain=yes&number=1")
    ex = r["summary"]["explanation"]
    assert ex["originalQuery"] and ex["rewrittenQuery"]

    # includetokencount: sum of n_tokens over matched docs
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&includetokencount=yes&number=1")
    from pyspark.sql import functions as F
    hits = tiny_engine.find('"visa"')
    want = (hits.select("doc_id").distinct()
            .join(tiny_engine.index.doc_meta.select("doc_id",
                                                    "n_tokens"),
                  "doc_id").agg(F.sum("n_tokens")).collect()[0][0])
    assert r["summary"]["tokensInMatchingDocuments"] == int(want)

    # samplenum: deterministic fixed-size subset of the full hit set
    s1 = _get_json(server, "/blacklab-server/tiny/hits"
                           "?patt=%22the%22&samplenum=7&number=50")
    s2 = _get_json(server, "/blacklab-server/tiny/hits"
                           "?patt=%22the%22&samplenum=7&number=50")
    k1 = [(h["docPid"], h["start"]) for h in s1["hits"]]
    assert len(k1) == 7 == s1["summary"]["numberOfHits"]
    assert k1 == [(h["docPid"], h["start"]) for h in s2["hits"]]
    all_keys = {(h["docPid"], h["start"]) for h in _get_json(
        server, "/blacklab-server/tiny/hits?patt=%22the%22"
                "&number=100000")["hits"]}
    assert set(k1) <= all_keys

    # maxretrieve / maxcount caps + stopped flags
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22the%22&maxretrieve=5&number=50")
    assert r["summary"]["numberOfHits"] == 5
    assert r["summary"]["stoppedRetrievingHits"]
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22the%22&maxcount=9&number=3")
    assert r["summary"]["numberOfHits"] == 9
    assert r["summary"]["stoppedCountingHits"] \
        and not r["summary"]["stoppedRetrievingHits"]

    # matchInfos: named captures on the hit entries; empty spans
    # dropped with omitemptycaptures
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=A%3A%22visa%22&number=2")
    for h in r["hits"]:
        assert h["matchInfos"]["A"] == {"start": h["start"],
                                        "end": h["end"]}

    # csvsepline + csvsummary
    status, csvb = _get(server, "/blacklab-server/tiny/hits"
                                "?patt=%22visa%22&number=2"
                                "&outputformat=csv&csvsepline=yes"
                                "&csvsummary=yes")
    assert csvb.startswith("sep=,\n")
    assert "summary.searchParam.patt" in csvb


def test_pattgapdata_gap_filling(server, tiny_engine):
    """pattgapdata fills @@ gaps from TSV rows, OR-ing the row
    queries (GapFiller.java; template/values semantics)."""
    import urllib.parse
    q = urllib.parse.urlencode({
        "patt": '"the" @@', "pattgapdata": "visa\ntable"})
    r = _get_json(server, f"/blacklab-server/tiny/hits?{q}&number=100")
    want = (tiny_engine.find('("the" "visa") | ("the" "table")')
            .count())
    alt = tiny_engine.find('"the" "visa"').count() + \
        tiny_engine.find('"the" "table"').count()
    assert r["summary"]["numberOfHits"] == want == alt > 0
    # two-gap template, row with both columns
    q = urllib.parse.urlencode({
        "patt": '@@ @@', "pattgapdata": "the\tvisa"})
    r = _get_json(server, f"/blacklab-server/tiny/hits?{q}&number=10")
    assert r["summary"]["numberOfHits"] == \
        tiny_engine.find('"the" "visa"').count()
    # empty data → 400
    q = urllib.parse.urlencode({"patt": '"the" @@',
                                "pattgapdata": "\n"})
    e = _get_json(server, f"/blacklab-server/tiny/hits?{q}", 400)
    assert e["error"]["code"] == "NO_DATA_GIVEN"


def test_hits_field_b_parallel(server, tiny_engine):
    """field=contents__b: hits reported in the parallel field's
    coordinates with field-b KWIC (SpanQueryOtherFieldHits served)."""
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&field=contents__b"
                          "&number=5&context=1")
    rows = tiny_engine.find_other_field('"visa"').collect()
    want = {(row["doc_id"], row["start"], row["end"]) for row in rows}
    # projection keeps one hit per SOURCE hit — duplicates when two
    # source hits land in the same fused field-b span
    assert r["summary"]["numberOfHits"] == len(rows) > 0
    from blacklab_spark.operators.parallel import tokens_other_field
    from pyspark.sql import functions as F
    dm = {row["doc_id"]: row["tb"] for row in
          tiny_engine.index.doc_meta.select(
              "doc_id", tokens_other_field("tokens").alias("tb"))
          .collect()}
    pid2doc = {f"{row['conv_id']}:{row['turn_idx']}": row["doc_id"]
               for row in tiny_engine.index.doc_meta.select(
                   "doc_id", "conv_id", "turn_idx").collect()}
    for h in r["hits"]:
        did = pid2doc[h["docPid"]]
        assert (did, h["start"], h["end"]) in want
        tb = dm[did]
        # the fused field-b token carries the source word
        assert any("visa" in t for t in h["match"]["word"])
        assert h["match"]["word"] == tb[h["start"]:h["end"]]
    # searching field b directly is routed through pattern syntax
    e = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&searchfield=contents__b",
                  expect_status=400)
    assert e["error"]["code"] == "ILLEGAL_ARGUMENT"
    e = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&field=contents__b"
                          "&usecontent=orig", expect_status=400)
    assert e["error"]["code"] == "ILLEGAL_ARGUMENT"


def test_hits_fimatch_param(server, tiny_engine):
    """fimatch= per-request FiSeq threshold: results identical at any
    setting; 0 disables the strategy (search.fiMatchFactor)."""
    q = "/blacklab-server/tiny/hits?patt=%22visa%22%20%22the%22&number=100"
    dflt = _get_json(server, q)
    off = _get_json(server, q + "&fimatch=0")
    eager = _get_json(server, q + "&fimatch=1")
    keys = lambda r: [(h["docPid"], h["start"]) for h in r["hits"]]
    assert keys(dflt) == keys(off) == keys(eager)
    assert dflt["summary"]["numberOfHits"] == \
        off["summary"]["numberOfHits"] == \
        eager["summary"]["numberOfHits"]


def test_relations_params(server, tiny_engine):
    """classes/onlyspans/limitvalues on /relations
    (opRelations parameter semantics)."""
    base = _get_json(server, "/blacklab-server/tiny/relations")
    assert base["relations"]
    # classes=dep keeps the dependency class; spans absent (no tags)
    r = _get_json(server, "/blacklab-server/tiny/relations?classes=dep")
    assert r["relations"] == base["relations"] and "spans" not in r
    # limitvalues truncates the type list
    r = _get_json(server,
                  "/blacklab-server/tiny/relations?limitvalues=2")
    assert len(r["relations"]) == 2
    assert list(r["relations"]) == sorted(base["relations"])[:2]
    # onlyspans on a build without tags → NO_RELATIONS
    e = _get_json(server,
                  "/blacklab-server/tiny/relations?onlyspans=yes",
                  expect_status=400)
    assert e["error"]["code"] == "NO_RELATIONS"


def test_termfreq_params(server, tiny_engine):
    """annotation/sensitive/filter/terms/first on /termfreq
    (getTermFrequencies parameter semantics)."""
    from pyspark.sql import functions as F
    # explicit term set: exact counts, unpaginated
    r = _get_json(server, "/blacklab-server/tiny/termfreq"
                          "?terms=visa,the&number=1")
    want = {x["term"]: x["count"]
            for x in tiny_engine.term_frequencies()
            .filter(F.col("term").isin(["visa", "the"])).collect()}
    assert r["termFreq"] == want and len(want) == 2
    # doc filter restricts the corpus slice
    r = _get_json(server, "/blacklab-server/tiny/termfreq"
                          "?terms=visa&filter=role:user")
    want = {x["term"]: x["count"]
            for x in tiny_engine.term_frequencies(filter="role:user")
            .filter(F.col("term") == "visa").collect()}
    assert r["termFreq"] == want
    # pos layer frequencies
    r = _get_json(server, "/blacklab-server/tiny/termfreq"
                          "?annotation=pos&number=10")
    assert set(r["termFreq"]) <= {"func", "verb", "num", "noun"}
    assert sum(r["termFreq"].values()) > 0
    # first= pages the full list
    a = _get_json(server, "/blacklab-server/tiny/termfreq?number=5")
    b = _get_json(server, "/blacklab-server/tiny/termfreq"
                          "?number=3&first=2")
    assert list(b["termFreq"]) == list(a["termFreq"])[2:5]
    # unknown annotation → 400
    e = _get_json(server, "/blacklab-server/tiny/termfreq"
                          "?annotation=bogus", expect_status=400)
    assert e["error"]["code"] == "UNKNOWN_ANNOTATION"


def test_autocomplete_metadata_and_layers(server, tiny_engine):
    """Autocomplete over metadata fields and derived layers
    (RequestHandlerAutocomplete serves both)."""
    roles = _get_json(server,
                      "/blacklab-server/tiny/autocomplete/role?term=u")
    assert roles == ["user"]
    convs = _get_json(server, "/blacklab-server/tiny/autocomplete/"
                              "conv_id?term=conv&number=3")
    assert len(convs) == 3 and all(c.startswith("conv") for c in convs)
    pos = _get_json(server,
                    "/blacklab-server/tiny/autocomplete/pos?term=f")
    assert pos == ["func"]
    e = _get_json(server,
                  "/blacklab-server/tiny/autocomplete/bogus?term=x",
                  expect_status=400)
    assert e["error"]["code"] == "UNKNOWN_ANNOTATION"


def test_field_b_rejects_source_property_keys(server):
    e = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&field=contents__b"
                          "&group=field:role", expect_status=400)
    assert e["error"]["code"] == "ILLEGAL_ARGUMENT"


def test_hits_grouped_subcorpus_size(server, tiny_engine):
    """Grouping by a doc property attaches subcorpusSize + relative
    frequency to each group (BLS grouped-hits response)."""
    from pyspark.sql import functions as F
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&group=field:role")
    assert r["hitGroups"]
    sub = {row["role"]: (row["docs"], row["toks"]) for row in
           tiny_engine.index.doc_meta.groupBy("role")
           .agg(F.count("*").alias("docs"),
                F.sum("n_tokens").alias("toks")).collect()}
    for g in r["hitGroups"]:
        docs, toks = sub[g["identity"]]
        assert g["subcorpusSize"] == {"documents": docs,
                                      "tokens": toks}
        assert g["relativeFrequency"] == round(g["size"] / toks, 9)
    # hit-text grouping: no subcorpus fields, still works
    r2 = _get_json(server, "/blacklab-server/tiny/hits"
                           "?patt=%22visa%22&group=after:word:i:1")
    assert r2["hitGroups"] and \
        "subcorpusSize" not in r2["hitGroups"][0]


def test_hits_listvalues_annotations(server, tiny_engine):
    """listvalues= adds annotation layers to KWIC contexts
    (multi-annotation Kwic; pos here is the derived layer)."""
    r = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&number=3"
                          "&listvalues=pos,lemma&context=2")
    from blacklab_spark.annotations import py_pos_tag
    assert r["hits"]
    for h in r["hits"]:
        for part in ("left", "match", "right"):
            assert len(h[part]["pos"]) == len(h[part]["word"])
            assert len(h[part]["lemma"]) == len(h[part]["word"])
        assert h["match"]["word"] == ["visa"]
        assert h["match"]["pos"] == [py_pos_tag("visa")]
    e = _get_json(server, "/blacklab-server/tiny/hits"
                          "?patt=%22visa%22&listvalues=bogus",
                  expect_status=400)
    assert e["error"]["code"] == "UNKNOWN_ANNOTATION"


# ---- /hits page parity: driver-side KWIC/docInfos and one count job ----

_PARITY_PATTS = ['"visa"', '"the"', '"visa" "application"',
                 'a:"visa" "application"', '"good" []{0,2} "visa"']
#: (first, context): the context clips at a doc's start, at neither
#: edge, and at both edges of short docs
_PARITY_WINDOWS = [(0, 5), (7, 0), (3, 12)]
#: (variant, pattern) cases: every pattern on the index as built, and
#: the patterns each other variant changes the answer of
_PARITY_CASES = (
    [("as_built", p) for p in _PARITY_PATTS]
    + [("maxcount", p) for p in ('"visa"', '"the"')]
    + [("max_hits_to_count", p) for p in ('"the"', '"visa" "application"')]
    + [("deleted_conv", p) for p in ('"visa"', 'a:"visa" "application"')]
    + [("no_tokens", p) for p in ('"visa"', '"the"',
                                  'a:"visa" "application"')])


def _spark_counts(eng, patt, maxcount=0):
    """(numberOfHits, numberOfDocs) as count() and distinct().count()
    give them, capped by a limit before the count."""
    hits = eng.find(patt)
    cap = maxcount or eng.settings.max_hits_to_count
    n_hits = hits.limit(cap).count() if cap else hits.count()
    return n_hits, hits.select("doc_id").distinct().count()


def _spark_page(eng, patt, first, context, number):
    """(hits, docInfos) of a /hits page as Spark answers them:
    ``operators.hits.kwic`` over the window and a doc_meta scan."""
    from pyspark.sql import functions as F

    from blacklab_spark.operators.hits import kwic, window_hits
    idx = eng.index
    window = window_hits(eng.find(patt), first, number).collect()
    wdf = idx.spark.createDataFrame(
        [(h["doc_id"], h["start"], h["end"]) for h in window],
        "doc_id long, start int, end int")
    k = {(r["doc_id"], r["start"], r["end"]): r
         for r in kwic(idx, wdf, context).collect()}
    out = []
    for h in window:
        r = k[(h["doc_id"], h["start"], h["end"])]
        e = {"docPid": f'{r["conv_id"]}:{r["turn_idx"]}',
             "start": r["start"], "end": r["end"],
             "left": {"word": list(r["left"])},
             "match": {"word": list(r["match"])},
             "right": {"word": list(r["right"])}}
        if "match_info" in h.__fields__ and h["match_info"]:
            e["matchInfos"] = {n: {"start": v["s"], "end": v["e"]}
                               for n, v in h["match_info"].items()}
        out.append(e)
    meta = (idx.doc_meta
            .filter(F.col("doc_id").isin([h["doc_id"] for h in window]))
            .orderBy("doc_id").collect())
    infos = {f'{m["conv_id"]}:{m["turn_idx"]}': {
        "conv_id": m["conv_id"], "turn_idx": m["turn_idx"],
        "role": m["role"], "lengthInTokens": m["n_tokens"]}
        for m in meta}
    return json.loads(json.dumps(out)), json.loads(json.dumps(infos))


@pytest.fixture(scope="module")
def parity_engines(spark, tiny_engine, tiny_index_dir, tmp_path_factory):
    """variant → (engine, extra /hits params): the tiny index as
    built, with maxcount=5, under a max_hits_to_count=7 engine, a copy
    with the first "visa" conversation deleted and a copy whose
    doc_meta stores no ``tokens`` column (the format-v5 "none"
    layout)."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from blacklab_spark.delete import delete_docs
    from blacklab_spark.engine import SearchEngine, SearchSettings
    from blacklab_spark.index import open_index
    root = tmp_path_factory.mktemp("parity")
    deleted = str(root / "deleted")
    shutil.copytree(tiny_index_dir, deleted)
    conv = (tiny_engine.index.doc_meta
            .join(tiny_engine.find('"visa"'), "doc_id")
            .orderBy("doc_id").first()["conv_id"])
    assert delete_docs(open_index(spark, deleted),
                       f"conv_id = '{conv}'") > 0
    no_tokens = str(root / "no_tokens")
    shutil.copytree(tiny_index_dir, no_tokens)
    dm = os.path.join(no_tokens, "doc_meta")
    for f in os.listdir(dm):
        if f.endswith(".parquet"):
            p = os.path.join(dm, f)
            # no schema metadata: Spark's stored row schema would
            # still name the dropped column
            pq.write_table(pq.read_table(p).drop(["tokens"])
                           .replace_schema_metadata(None), p,
                           coerce_timestamps="us")
            crc = os.path.join(dm, f".{f}.crc")   # Hadoop checksum
            if os.path.exists(crc):
                os.remove(crc)
    return {
        "as_built": (tiny_engine, 0),
        "maxcount": (tiny_engine, 5),
        "max_hits_to_count": (SearchEngine(
            tiny_engine.index,
            settings=SearchSettings(max_hits_to_count=7)), 0),
        "deleted_conv": (SearchEngine.open(spark, deleted), 0),
        "no_tokens": (SearchEngine.open(spark, no_tokens), 0),
    }


@pytest.mark.parametrize("variant,patt", _PARITY_CASES)
def test_hits_page_parity_with_spark_kwic(parity_engines, variant, patt):
    """The /hits page (driver-side KWIC and docInfos, hit and doc
    counts from one job) parses equal to the Spark kwic + count() +
    distinct().count() answer for the same window, docInfos in doc-id
    order."""
    from blacklab_spark.server import BlsApp
    eng, maxcount = parity_engines[variant]
    if variant == "no_tokens":
        assert "tokens" not in eng.index.doc_meta_stored
    app = BlsApp(eng, corpus="t")
    n_hits, n_docs = _spark_counts(eng, patt, maxcount)
    assert n_hits > 0
    for first, context in _PARITY_WINDOWS:
        q = {"patt": [patt], "first": [str(first)], "number": ["10"],
             "context": [str(context)]}
        if maxcount:
            q["maxcount"] = [str(maxcount)]
        st, _, body = app.handle("/blacklab-server/t/hits", q)
        assert st == 200, body
        got = json.loads(body)
        s = got["summary"]
        assert (s["numberOfHits"], s["numberOfDocs"]) == (n_hits, n_docs)
        assert s["stoppedCountingHits"] == bool(
            maxcount and n_hits >= maxcount)
        hits, infos = _spark_page(eng, patt, first, context, 10)
        assert got["hits"] == hits
        assert list(got["docInfos"].items()) == list(infos.items())

"""MediaWiki dump ingest — the Wikipedia leg of the corpus-ingest
family. Every open-data pretraining mix includes the wiki dumps, and
they arrive as the public `export-0.10` XML: <mediawiki> → <page> →
<title>/<ns>/<id>/[<redirect/>]/<revision> → <text>.

Two stages, both map-only Arrow work over opaque payload cells:

1. `parse_wiki_dump` — a hand-rolled, validating walk of the export
   schema (tag scanner + XML entity decode; no XML library, same
   zero-dep ethos as the WARC/PDF/ZIP walks). Malformed nesting,
   unclosed tags, or bad entities raise ValueError — corrupt-dump
   quarantine.
2. `strip_wikitext` — wikitext → plain text: <ref> bodies dropped,
   {{templates}} dropped, [[link|label]] → label, [[link]] → link,
   bold/italic quote runs unwrapped, `== heading ==` markers
   stripped, #REDIRECT pages surfaced as redirects with empty text.
   Feature counts come back for corpus QA.
"""

from __future__ import annotations

import re

from dynamodb_to_datalake_project_spark.rowmap import map_rows

_ENT = {"lt": "<", "gt": ">", "amp": "&", "quot": '"', "apos": "'"}


def xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def xml_unescape(s: str) -> str:
    """Entity decode incl. numeric &#NNN; / &#xHH; — unknown entities
    raise (a dump with broken entities must quarantine)."""

    def sub(mo: "re.Match[str]") -> str:
        body = mo.group(1)
        if body.startswith("#x") or body.startswith("#X"):
            return chr(int(body[2:], 16))
        if body.startswith("#"):
            return chr(int(body[1:]))
        if body in _ENT:
            return _ENT[body]
        raise ValueError(f"wiki: unknown XML entity &{body};")

    return re.sub(r"&([^;&]{1,8});", sub, s)


def encode_wiki_dump(pages: "list[dict]") -> str:
    """Serialize pages to export-0.10 XML (title, ns, id, optional
    redirect, one revision with timestamp + text). Real escaping."""
    out = [
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
        'version="0.10" xml:lang="en">',
        "  <siteinfo><sitename>fixture</sitename></siteinfo>",
    ]
    for p in pages:
        out.append("  <page>")
        out.append(f"    <title>{xml_escape(p['title'])}</title>")
        out.append(f"    <ns>{p['ns']}</ns>")
        out.append(f"    <id>{p['id']}</id>")
        if p.get("redirect"):
            out.append(
                f'    <redirect title="{xml_escape(p["redirect"])}" />'
            )
        out.append("    <revision>")
        out.append(f"      <id>{p['id'] * 10}</id>")
        out.append(
            f"      <timestamp>{p.get('ts', '2024-01-01T00:00:00Z')}"
            "</timestamp>"
        )
        out.append(
            '      <text xml:space="preserve">'
            f"{xml_escape(p['text'])}</text>"
        )
        out.append("    </revision>")
        out.append("  </page>")
    out.append("</mediawiki>")
    return "\n".join(out)


def _find_tag(src: str, tag: str, at: int, end: int) -> "tuple[int, int, str, dict] | None":
    """Locate the next `<tag ...>` (or self-closing) inside [at, end);
    return (start, body_start_or_-1, raw_attrs, attrs) — None if
    absent. Attribute parse is real (quoted values, escaped)."""
    pat = re.compile(rf"<{re.escape(tag)}(\s[^>]*)?(/?)>")
    mo = pat.search(src, at, end)
    if not mo:
        return None
    attrs: dict[str, str] = {}
    for amo in re.finditer(r'([\w:]+)="([^"]*)"', mo.group(1) or ""):
        attrs[amo.group(1)] = xml_unescape(amo.group(2))
    body_start = -1 if mo.group(2) == "/" else mo.end()
    return mo.start(), body_start, mo.group(1) or "", attrs


def _element_text(src: str, tag: str, at: int, end: int) -> "tuple[str, int] | None":
    """Next `<tag>body</tag>` in [at, end): (decoded body, pos after
    close). Raises on an unclosed tag; None when absent."""
    hit = _find_tag(src, tag, at, end)
    if hit is None:
        return None
    start, body_start, _raw, _attrs = hit
    if body_start < 0:
        return "", start + 1  # self-closing => empty body
    close = src.find(f"</{tag}>", body_start, end)
    if close < 0:
        raise ValueError(f"wiki: unclosed <{tag}>")
    return xml_unescape(src[body_start:close]), close + len(tag) + 3


def parse_wiki_dump(xml: str) -> "list[dict]":
    """Walk an export-0.10 dump: every <page> yields {title, ns, id,
    redirect (or None), timestamp, text}. Validates the <mediawiki>
    root, page-level nesting (title/ns/id before revision), presence
    of exactly one <revision><text> per page, and entity
    well-formedness. ValueError on any violation."""
    root = _find_tag(xml, "mediawiki", 0, len(xml))
    if root is None or root[1] < 0:
        raise ValueError("wiki: missing <mediawiki> root")
    root_end = xml.rfind("</mediawiki>")
    if root_end < 0:
        raise ValueError("wiki: unclosed <mediawiki>")
    pages: "list[dict]" = []
    at = root[1]
    while True:
        hit = _find_tag(xml, "page", at, root_end)
        if hit is None:
            break
        pstart, pbody, _raw, _attrs = hit
        if pbody < 0:
            raise ValueError("wiki: self-closing <page>")
        pend = xml.find("</page>", pbody, root_end)
        if pend < 0:
            raise ValueError("wiki: unclosed <page>")
        title = _element_text(xml, "title", pbody, pend)
        ns = _element_text(xml, "ns", pbody, pend)
        pid = _element_text(xml, "id", pbody, pend)
        if title is None or ns is None or pid is None:
            raise ValueError("wiki: page missing title/ns/id")
        rhit = _find_tag(xml, "redirect", pbody, pend)
        redirect = rhit[3].get("title") if rhit is not None else None
        rev = _find_tag(xml, "revision", pbody, pend)
        if rev is None or rev[1] < 0:
            raise ValueError("wiki: page missing <revision>")
        rend = xml.find("</revision>", rev[1], pend)
        if rend < 0:
            raise ValueError("wiki: unclosed <revision>")
        ts = _element_text(xml, "timestamp", rev[1], rend)
        text = _element_text(xml, "text", rev[1], rend)
        if text is None:
            raise ValueError("wiki: revision missing <text>")
        if not ns[0].strip().lstrip("-").isdigit():
            raise ValueError(f"wiki: non-integer <ns> {ns[0]!r}")
        pages.append(
            {
                "title": title[0],
                "ns": int(ns[0]),
                "id": int(pid[0]),
                "redirect": redirect,
                "timestamp": ts[0] if ts else None,
                "text": text[0],
            }
        )
        at = pend + 7
    return pages


def strip_wikitext(wt: str) -> dict:
    """Wikitext → plain text with feature counts. Handles the strip
    set a wiki-corpus extraction needs: <ref ...>...</ref> and
    <ref/> dropped, {{templates}} dropped (non-nested), [[target|
    label]] → label, [[target]] → target, ''' ''bold/italic'' '''
    quote runs unwrapped, `== heading ==` lines reduced to their
    text, #REDIRECT pages returned as redirect=1 with empty text."""
    counts = {"links": 0, "templates": 0, "refs": 0, "bold": 0,
              "italic": 0, "headings": 0}
    if wt.startswith("#REDIRECT"):
        return {"text": "", "redirect": 1, **counts}

    def ref(mo):
        counts["refs"] += 1
        return ""

    out = re.sub(r"<ref[^>/]*>.*?</ref>|<ref[^>]*/>", ref, wt, flags=re.S)

    def tmpl(mo):
        counts["templates"] += 1
        return ""

    out = re.sub(r"\{\{[^{}]*\}\}", tmpl, out)

    def link(mo):
        counts["links"] += 1
        body = mo.group(1)
        return body.rsplit("|", 1)[-1]

    out = re.sub(r"\[\[([^\[\]]+)\]\]", link, out)

    def heading(mo):
        counts["headings"] += 1
        return mo.group(1).strip()

    out = re.sub(r"^==+\s*(.*?)\s*==+\s*$", heading, out, flags=re.M)

    def bold(mo):
        counts["bold"] += 1
        return mo.group(1)

    out = re.sub(r"'''(.+?)'''", bold, out, flags=re.S)

    def ital(mo):
        counts["italic"] += 1
        return mo.group(1)

    out = re.sub(r"''(.+?)''", ital, out, flags=re.S)
    return {"text": out, "redirect": 0, **counts}


# ---------------------------------------------------------------------------
# Catalog fixture: one single-page dump per document. Every 5th doc is
# a redirect; others carry the REAL text decorated on a 7-word cycle
# (link / piped link / bold / ref / template+word), under a == Doc N ==
# heading — stripping must recover heading + text byte-exactly.
# ---------------------------------------------------------------------------


def wiki_extract_stats(docs):
    """Encode → parse → strip per document; emit ns/redirect census,
    feature counts, and md5 of the recovered plain text."""
    import hashlib

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ns", T.LongType()),
            T.StructField("is_redirect", T.LongType()),
            T.StructField("n_links", T.LongType()),
            T.StructField("n_templates", T.LongType()),
            T.StructField("n_refs", T.LongType()),
            T.StructField("n_bold", T.LongType()),
            T.StructField("extracted_chars", T.LongType()),
            T.StructField("extracted_md5", T.StringType()),
        ]
    )

    def row(did, text):
        if did % 5 == 0:
            body = f"#REDIRECT [[Doc {did + 1}]]"
        else:
            words = text.split(" ")
            deco = []
            for i, w in enumerate(words):
                m = i % 7
                if w and m == 1:
                    deco.append(f"[[{w}]]")
                elif w and m == 2:
                    deco.append(f"[[Doc {did}|{w}]]")
                elif w and m == 3:
                    deco.append(f"'''{w}'''")
                elif w and m == 4:
                    deco.append(f"{w}<ref>cite {did}</ref>")
                elif w and m == 5:
                    deco.append("{{tmpl|%d}}%s" % (did, w))
                else:
                    deco.append(w)
            body = f"== Doc {did} ==\n" + " ".join(deco)
        page = {
            "title": f"Doc {did}",
            "ns": did % 3,
            "id": did,
            "redirect": f"Doc {did + 1}" if did % 5 == 0 else None,
            "text": body,
        }
        parsed = parse_wiki_dump(encode_wiki_dump([page]))
        assert len(parsed) == 1 and parsed[0]["text"] == body
        d = strip_wikitext(parsed[0]["text"])
        if did % 5 != 0:
            expect = f"Doc {did}\n{text}"
            assert d["text"] == expect  # fixture invariant
        yield (
            did,
            parsed[0]["ns"],
            d["redirect"],
            d["links"],
            d["templates"],
            d["refs"],
            d["bold"],
            len(d["text"]),
            hashlib.md5(d["text"].encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "wiki_dump_extract",
        oracle="""
        WITH t AS (
          SELECT doc_id, text, string_split(text, ' ') AS w
          FROM documents
        ), c AS (
          SELECT doc_id,
            len(list_filter(list_transform(range(0, len(w)),
                i -> CASE WHEN i % 7 IN (1, 2) AND w[i+1] <> ''
                          THEN 1 END), x -> x IS NOT NULL)) AS n_links,
            len(list_filter(list_transform(range(0, len(w)),
                i -> CASE WHEN i % 7 = 5 AND w[i+1] <> ''
                          THEN 1 END), x -> x IS NOT NULL)) AS n_tmpl,
            len(list_filter(list_transform(range(0, len(w)),
                i -> CASE WHEN i % 7 = 4 AND w[i+1] <> ''
                          THEN 1 END), x -> x IS NOT NULL)) AS n_refs,
            len(list_filter(list_transform(range(0, len(w)),
                i -> CASE WHEN i % 7 = 3 AND w[i+1] <> ''
                          THEN 1 END), x -> x IS NOT NULL)) AS n_bold
          FROM t
        )
        SELECT t.doc_id,
               CAST(t.doc_id % 3 AS BIGINT) AS ns,
               CAST(CASE WHEN t.doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS is_redirect,
               CAST(CASE WHEN t.doc_id % 5 = 0 THEN 0 ELSE c.n_links END
                 AS BIGINT) AS n_links,
               CAST(CASE WHEN t.doc_id % 5 = 0 THEN 0 ELSE c.n_tmpl END
                 AS BIGINT) AS n_templates,
               CAST(CASE WHEN t.doc_id % 5 = 0 THEN 0 ELSE c.n_refs END
                 AS BIGINT) AS n_refs,
               CAST(CASE WHEN t.doc_id % 5 = 0 THEN 0 ELSE c.n_bold END
                 AS BIGINT) AS n_bold,
               CAST(CASE WHEN t.doc_id % 5 = 0 THEN 0
                    ELSE length('Doc ' || t.doc_id) + 1 + length(t.text) END
                 AS BIGINT) AS extracted_chars,
               CASE WHEN t.doc_id % 5 = 0 THEN md5('')
                    ELSE md5('Doc ' || t.doc_id || chr(10) || t.text) END
                 AS extracted_md5
        FROM t JOIN c ON t.doc_id = c.doc_id
        """,
    )
    def q_wiki_dump_extract(spark, sf_dir):
        """Wikipedia-dump ingest over the documents table: each doc
        becomes a single-page export-0.10 XML dump (every 5th page a
        redirect; others carry the REAL text wikitext-decorated on a
        7-word cycle under a == Doc N == heading), then parse + strip
        back to plain text. The oracle re-derives the ns/redirect
        census and per-feature counts from the word-cycle formula and
        pins the recovered text via md5 — entity escaping, tag
        nesting, link/template/ref/bold stripping and the heading rule
        must all survive byte-for-byte."""
        docs = load_table(spark, sf_dir, "documents")
        return wiki_extract_stats(docs)


_register()

"""Seeded input generators for the benchmark's workloads and for the
components its traced run drives.

Everything here is pure Python (stdlib only) and depends on nothing in
``readur_spark``: the benchmark's inputs must not change when the program
does. The same ``seed`` always yields the same bytes.

Workload shapes:

* ``web_html_docs``  — interleaved docs, each 1-3 realistic 5-30 KB HTML
  pages plus one text span and one media span; no mega-docs. Only the
  content depends on the seed, not the shape.
* ``mixed_docs``     — many short text/media spans per doc drawn from the
  text classes of FIXTURES.md section 3, rare small HTML spans, ~1%
  mega-docs carrying thousands of spans.
* ``curate_corpus``  — flat ``(doc_id, text)`` prose with planted exact
  copies, near copies (a few word edits) and a few large duplicate groups,
  plus short docs the quality filter must drop; the group mix is the same
  for every seed. Returns the plant so the oracle can derive the expected
  survivors.
* ``binary_files``   — ``(doc_id, filename, content)`` files: text-layer
  PDFs (one and two columns), image-only PDFs, DOCX, XLSX, HTML, plain
  text and a small share of corrupt or unsupported files. The PDF and
  OOXML writers below are written from the file-format specs, not taken
  from the program.
"""

from __future__ import annotations

import io
import random
import re
import zipfile
import zlib
from collections import Counter

# --------------------------------------------------------------------------
# Vocabulary
# --------------------------------------------------------------------------

_STOP = (
    "the the the of of and and to to a a in in is that it with for as was on "
    "be by at this have from or an are which but not were has had been their "
    "its can more also than into other these such most only when some may"
).split()

_CONTENT = (
    "system data document page partition extraction engine cluster record "
    "network process result table column index storage memory value query "
    "report server client request response library archive section chapter "
    "figure summary analysis method model sample measure signal window "
    "history market policy budget contract agreement invoice payment account "
    "customer supplier product service region nation city river mountain "
    "village forest harbor station bridge railway highway airport school "
    "student teacher lesson course exam research science theory experiment "
    "evidence author editor reader journal article letter message language "
    "grammar sentence paragraph translation culture music painting museum "
    "gallery theater festival season weather climate winter summer autumn "
    "spring morning evening garden kitchen bakery coffee breakfast dinner "
    "recipe farmer harvest orchard vineyard weaving pottery carpentry "
    "engineer architect designer manager director council committee meeting "
    "election government minister treaty border trade export import factory "
    "machine turbine battery circuit sensor camera screen keyboard printer "
    "software hardware protocol packet router switch channel stream buffer "
    "compiler parser kernel thread schedule deadline quarter revenue profit "
    "growth decline forecast estimate survey census population household "
    "hospital doctor patient medicine treatment vaccine clinic nurse health "
    "ocean island coast desert valley glacier volcano canyon meadow prairie "
    "planet galaxy telescope orbit satellite rocket mission launch crew "
    "captain sailor voyage compass lantern castle tower palace temple chapel "
    "monastery library manuscript scroll parchment ink quill binding"
).split()

_VERBS = (
    "describes shows contains explains records measures reports reviews "
    "improves reduces supports connects follows includes presents compares "
    "requires provides builds extends tracks protects"
).split()

_ADJ = (
    "large small early late central northern southern ancient modern "
    "public private local global careful rapid steady complex simple "
    "detailed annual regional digital historic"
).split()

_SPANISH = (
    "el la de que y en los se del las por un para con una su al es lo como "
    "mas pero sus le ya o este documento informe ciudad proceso sistema datos"
).split()

def _sentence(rng: random.Random, n: int) -> str:
    words = []
    for _ in range(n):
        r = rng.random()
        if r < 0.30:
            words.append(rng.choice(_STOP))
        elif r < 0.42:
            words.append(rng.choice(_ADJ))
        elif r < 0.52:
            words.append(rng.choice(_VERBS))
        else:
            words.append(rng.choice(_CONTENT))
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def prose(rng: random.Random, n_words: int) -> str:
    """English-like prose of about ``n_words`` words in sentences."""
    out: list[str] = []
    left = n_words
    while left > 0:
        k = min(left, rng.randint(6, 18))
        out.append(_sentence(rng, k))
        left -= k
    return " ".join(out)


# --------------------------------------------------------------------------
# HTML pages
# --------------------------------------------------------------------------

_ENTITIES = ("&amp;", "&quot;", "&#8217;", "&nbsp;", "&lt;", "&gt;", "&eacute;", "&#x2014;")


def _inline_para(rng: random.Random, doc_tag: str, n_words: int) -> str:
    """A paragraph with entities, inline links and emphasis."""
    words = prose(rng, n_words).split(" ")
    for _ in range(rng.randint(0, 3)):
        i = rng.randrange(len(words))
        words[i] = words[i] + " " + rng.choice(_ENTITIES)
    if rng.random() < 0.6 and len(words) > 8:
        i = rng.randrange(len(words) - 3)
        words[i] = f'<a href="/{doc_tag}/{rng.randrange(10**6)}">{words[i]}'
        words[i + 2] = words[i + 2] + "</a>"
    if rng.random() < 0.4 and len(words) > 6:
        i = rng.randrange(len(words) - 2)
        words[i] = "<em>" + words[i]
        words[i + 1] = words[i + 1] + "</em>"
    return "<p>" + " ".join(words) + "</p>"


def _link_list(rng: random.Random, n: int, prefix: str) -> str:
    items = "".join(
        f'<li><a href="/{prefix}/{rng.randrange(10**5)}">{rng.choice(_CONTENT).title()}'
        f" {rng.choice(_CONTENT)}</a></li>"
        for _ in range(n)
    )
    return f"<ul>{items}</ul>"


def html_page(rng: random.Random, target_bytes: int, tag: str) -> str:
    """A page of about ``target_bytes`` carrying nav/header/footer,
    script/style, comments, entities, link farms, tables, inline images
    and nested blocks around a main article."""
    head = (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        f"<title>{prose(rng, 6)}</title>"
        "<style>body{font-family:sans-serif}.nav a{color:#333}"
        " p{margin:0 0 1em 0}</style>"
        "<script>window.dataLayer=window.dataLayer||[];function g(){"
        "dataLayer.push(arguments)} if (a < b && c > d) { g('x'); }</script>"
        "</head><body>"
    )
    nav = (
        "<header><div class=\"logo\">" + rng.choice(_CONTENT).title() + " Daily</div>"
        "<nav class=\"nav\">" + _link_list(rng, rng.randint(6, 14), "section") + "</nav></header>"
        "<!-- top banner: " + prose(rng, 8) + " -->"
    )
    body: list[str] = [f"<main><article><h1>{prose(rng, 8)}</h1>"]
    size = len(head) + len(nav)
    n_img = 0
    while size < target_bytes - 600:
        r = rng.random()
        if r < 0.55:
            block = _inline_para(rng, tag, rng.randint(30, 90))
        elif r < 0.65:
            n_img += 1
            block = (
                f'<figure><img src="{tag}-img-{n_img}.jpg" alt="{rng.choice(_CONTENT)}">'
                f"<figcaption>{prose(rng, rng.randint(6, 14))}</figcaption></figure>"
            )
        elif r < 0.73:
            rows = "".join(
                "<tr>" + "".join(f"<td>{prose(rng, rng.randint(3, 12))}</td>" for _ in range(3)) + "</tr>"
                for _ in range(rng.randint(2, 5))
            )
            block = f"<table class=\"data\"><tbody>{rows}</tbody></table>"
        elif r < 0.80:
            block = "<div class=\"related\"><h3>Related</h3>" + _link_list(rng, rng.randint(8, 20), "rel") + "</div>"
        elif r < 0.86:
            block = (
                "<section><div><div class=\"inner\">"
                + _inline_para(rng, tag, rng.randint(20, 60))
                + f"<blockquote>{prose(rng, rng.randint(10, 30))}</blockquote>"
                + "</div></div></section>"
            )
        elif r < 0.90:
            block = "<!-- " + prose(rng, rng.randint(5, 20)) + " -->"
        elif r < 0.94:
            block = f"<p>{rng.choice(_CONTENT).title()} {rng.choice(_CONTENT)}</p>"  # short-block noise
        elif r < 0.97:
            block = "<aside><h4>Sponsored</h4>" + _inline_para(rng, tag, 20) + "</aside>"
        else:
            block = "<script>var t=" + str(rng.randrange(10**6)) + ";if(t<5){document.write('<p>x</p>')}</script>"
        body.append(block)
        size += len(block)
    body.append("</article></main>")
    foot = (
        "<footer><div class=\"links\">" + _link_list(rng, rng.randint(10, 25), "foot") + "</div>"
        "<p>&copy; 2024 " + rng.choice(_CONTENT).title() + " Media. All rights reserved.</p></footer>"
        "<script src=\"/static/app.js\"></script></body></html>"
    )
    return head + nav + "".join(body) + foot


# --------------------------------------------------------------------------
# Text-span classes (FIXTURES.md section 3)
# --------------------------------------------------------------------------


def _camel(rng: random.Random, k: int) -> str:
    return "".join(rng.choice(_CONTENT).title() for _ in range(k))


def text_class_span(rng: random.Random) -> str:
    """One short text span drawn from the FIXTURES.md text classes."""
    r = rng.random()
    if r < 0.40:
        return prose(rng, rng.randint(8, 60))
    if r < 0.46:
        return _camel(rng, rng.randint(3, 8))  # continuous text, no spaces
    if r < 0.50:
        return "".join(
            rng.choice(_CONTENT)[:3].upper() + str(rng.randrange(1000)) for _ in range(rng.randint(2, 5))
        )  # mixed alphanumeric
    if r < 0.53:
        return "".join(rng.choice(_CONTENT) for _ in range(4)).upper()  # all-caps run
    if r < 0.56:
        return ".".join(rng.choice(_CONTENT).title() for _ in range(rng.randint(3, 6)))
    if r < 0.59:
        return "".join(rng.choice("!@#$%^&*()_+-=[]{}|;':\",./<>?") for _ in range(rng.randint(8, 30)))
    if r < 0.62:
        return rng.choice(("   \n\t  ", "", "\n\n", " \t "))  # empty / whitespace
    if r < 0.66:
        return "\0".join(prose(rng, rng.randint(4, 12)).split(" "))  # embedded NULs
    if r < 0.72:
        words = prose(rng, rng.randint(8, 30)).split(" ")
        seps = ("    ", "\n\n\n\n", "   \n  ", "\t \t", " ", " ", "\n")
        return "".join(w + rng.choice(seps) for w in words)  # messy whitespace
    if r < 0.77:
        return " ".join(_camel(rng, 2) for _ in range(rng.randint(2, 6)))  # camelCase pairs
    if r < 0.83:
        words = prose(rng, rng.randint(10, 40)).split(" ")
        for _ in range(rng.randint(1, 3)):
            i = rng.randrange(len(words))
            w = words[i]
            if len(w) > 5:
                words[i] = w[:3] + "-\n" + w[3:]  # hyphenated line break
        return " ".join(words)
    if r < 0.90:
        es = " ".join(rng.choice(_SPANISH) for _ in range(rng.randint(8, 30)))
        return es.capitalize() + ". " + prose(rng, rng.randint(0, 20))  # multilingual
    if r < 0.95:
        uni = ("naïve", "café", "Größe", "日本語", "données", "ñandú", "Ωmega", "😀", "—")
        words = prose(rng, rng.randint(6, 24)).split(" ")
        for _ in range(rng.randint(1, 4)):
            words.insert(rng.randrange(len(words) + 1), rng.choice(uni))
        return " ".join(words)  # UTF-8 edges
    return prose(rng, rng.randint(80, 300))  # a longer paragraph


def _small_html(rng: random.Random, tag: str) -> str:
    paras = "".join(_inline_para(rng, tag, rng.randint(20, 50)) for _ in range(rng.randint(1, 3)))
    return (
        "<html><body><nav>" + _link_list(rng, 4, "n") + "</nav><div>" + paras
        + f'<img src="{tag}-m.png"></div><footer>' + _link_list(rng, 3, "f") + "</footer></body></html>"
    )


# --------------------------------------------------------------------------
# Workload generators
# --------------------------------------------------------------------------


def _span(kind: str, text: str, media_ref: str, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _shuffled_offsets(rng: random.Random, spans: list[dict]) -> list[dict]:
    """Spans arrive in storage order, not document order: the kernel must
    sort by offset."""
    rng.shuffle(spans)
    return spans


def _stratified(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """``n`` values evenly spread over [lo, hi], in random order."""
    values = [lo + round((hi - lo) * (k + 0.5) / n) for k in range(n)]
    rng.shuffle(values)
    return values


def web_html_docs(seed: int, n_docs: int) -> list[tuple[str, list[dict]]]:
    """The seed draws the content; the shape (doc ids, pages per doc, page
    and text sizes) is the same for every seed. With a few hundred docs
    hashed over a few partitions, a seed-drawn shape would decide how evenly
    the work spreads over the cores, and that alone moved docs_per_s by a
    quarter between seeds."""
    shape = random.Random(f"web_html:shape:{n_docs}")
    pages_per_doc = _stratified(shape, n_docs, 1, 3)
    page_bytes = _stratified(shape, sum(pages_per_doc), 5_000, 30_000)
    text_words = _stratified(shape, n_docs, 20, 80)
    rng = random.Random(f"web_html:{seed}")
    docs = []
    for d in range(n_docs):
        doc_id = f"web-{d:07d}"
        spans = [
            _span("html", html_page(rng, page_bytes.pop(), f"{doc_id}-{p}"), "", 0)
            for p in range(pages_per_doc[d])
        ]
        spans.insert(rng.randrange(len(spans) + 1), _span("text", prose(rng, text_words[d]), "", 0))
        spans.insert(rng.randrange(len(spans) + 1), _span("media", "", f"{doc_id}-hero.jpg", 0))
        for i, s in enumerate(spans):
            s["offset"] = i
        docs.append((doc_id, _shuffled_offsets(rng, spans)))
    return docs


def mixed_docs(seed: int, n_docs: int, mega_share: float = 0.01) -> list[tuple[str, list[dict]]]:
    rng = random.Random(f"mixed_ckpt:{seed}")
    n_mega = max(1, round(n_docs * mega_share))
    mega_at = set(rng.sample(range(n_docs), n_mega))
    docs = []
    for d in range(n_docs):
        doc_id = f"mix-{seed}-{d:07d}"
        n_spans = rng.randint(1500, 3000) if d in mega_at else rng.randint(3, 20)
        spans = []
        for i in range(n_spans):
            r = rng.random()
            if r < 0.70:
                spans.append(_span("text", text_class_span(rng), "", i))
            elif r < 0.985:
                spans.append(_span("media", "", f"{doc_id}-m{i}.png", i))
            else:
                spans.append(_span("html", _small_html(rng, f"{doc_id}-{i}"), "", i))
        docs.append((doc_id, _shuffled_offsets(rng, spans)))
    return docs


#: the Gopher quality rule's required stopwords (Rae et al. 2021, A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
#: single-word substitutions in a near copy, at most
NEAR_EDITS = 2


def _clearly_passes_gopher(text: str) -> bool:
    """At least two required stopwords, each present more often than a
    near copy's edits could remove. (Every other Gopher rule holds for any
    ``prose`` of 50+ words.)"""
    counts = Counter(re.findall(r"[a-z]+", text.lower()))
    return sum(counts[w] > NEAR_EDITS for w in GOPHER_STOPWORDS) >= 2


def curate_corpus(seed: int, n_groups: int) -> tuple[list[tuple[int, str]], dict]:
    """Flat corpus plus its plant.

    Each group is one base text with its exact copies and near copies
    (1-2 single-word substitutions in 200-420 words, so 3-shingle Jaccard
    stays above 0.94 and banded MinHash finds every pair). The group mix is
    fixed, only the texts and ids change with the seed: 1 in 150 groups is
    large (6 exact and 34 near copies), 15% of groups have one exact copy,
    20% one near copy, 5% both, and 5% are short docs (20-42 words) that
    the Gopher word-count rule must drop; every other base clearly passes
    the Gopher rules. Ids are a random permutation, so the base is not
    always the smallest id of its group.
    """
    rng = random.Random(f"curate_dedup:{seed}")
    n_large = max(2, n_groups // 150)
    mix = [(6, 34, False)] * n_large
    for exact, near, share in ((1, 0, 0.15), (0, 1, 0.20), (1, 1, 0.05)):
        mix += [(exact, near, False)] * round(n_groups * share)
    mix += [(0, 0, True)] * round(n_groups * 0.05)
    mix += [(0, 0, False)] * (n_groups - len(mix))
    rng.shuffle(mix)
    lengths = _stratified(rng, n_groups, 200, 420)
    groups: list[list[str]] = []
    for (n_exact, n_near, is_short), n_words in zip(mix, lengths):
        if is_short:
            base = prose(rng, n_words // 10)
        else:
            base = prose(rng, n_words)
            while not _clearly_passes_gopher(base):
                base = prose(rng, n_words)
        members = [base] * (1 + n_exact)
        words = base.split(" ")
        for _ in range(n_near):
            w = list(words)
            for _ in range(rng.randint(1, NEAR_EDITS)):
                w[rng.randrange(len(w))] = rng.choice(_CONTENT)
            members.append(" ".join(w))
        groups.append(members)
    total = sum(len(m) for m in groups)
    ids = list(range(1, total + 1))
    rng.shuffle(ids)
    rows: list[tuple[int, str]] = []
    plant = {"groups": [], "short": [m[2] for m in mix]}
    k = 0
    for members in groups:
        plant["groups"].append(ids[k : k + len(members)])
        rows += zip(ids[k : k + len(members)], members)
        k += len(members)
    rows.sort()
    return rows, plant


# --------------------------------------------------------------------------
# Binary files: minimal PDF / DOCX / XLSX writers
# --------------------------------------------------------------------------


def _pdf_escape(text: str) -> str:
    return text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def write_pdf(pages: list[list[tuple[float, float, str]]], image: bool = False, compress: bool = False) -> bytes:
    """A PDF 1.4 file whose pages show the given ``(x, y, text)`` runs in
    Helvetica; ``image`` adds a 2x2 gray image XObject drawn on every page."""
    objs: dict[int, bytes | tuple[bytes, bytes]] = {}
    n = len(pages)
    font = 3 + 2 * n
    img = font + 1
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs[2] = f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode()
    for i, runs in enumerate(pages):
        res = f"<< /Font << /F1 {font} 0 R >>" + (f" /XObject << /Im1 {img} 0 R >>" if image else "") + " >>"
        objs[3 + 2 * i] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents {4 + 2 * i} 0 R "
            f"/Resources {res} >>"
        ).encode()
        ops = [f"BT /F1 10 Tf {x:g} {y:g} Td ({_pdf_escape(t)}) Tj ET" for x, y, t in runs]
        if image:
            ops.append("q 400 0 0 500 100 150 cm /Im1 Do Q")
        stream = "\n".join(ops).encode("latin-1", errors="replace")
        if compress:
            stream = zlib.compress(stream)
            objs[4 + 2 * i] = (f"<< /Length {len(stream)} /Filter /FlateDecode >>".encode(), stream)
        else:
            objs[4 + 2 * i] = (f"<< /Length {len(stream)} >>".encode(), stream)
    objs[font] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    if image:
        objs[img] = (
            b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 /ColorSpace /DeviceGray "
            b"/BitsPerComponent 8 /Length 4 >>",
            bytes([0, 80, 160, 255]),
        )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode()
        val = objs[num]
        if isinstance(val, tuple):
            out += val[0] + b"\nstream\n" + val[1] + b"\nendstream\nendobj\n"
        else:
            out += val + b"\nendobj\n"
    xref = len(out)
    top = max(objs) + 1
    out += f"xref\n0 {top}\n0000000000 65535 f \n".encode()
    for num in range(1, top):
        out += f"{offsets.get(num, 0):010d} 00000 n \n".encode()
    out += f"trailer\n<< /Size {top} /Root 1 0 R >>\nstartxref\n{xref}\n%%EOF\n".encode()
    return bytes(out)


def _pdf_lines(rng: random.Random, n_lines: int, width_words: int) -> list[str]:
    return [" ".join(prose(rng, width_words).split(" ")[:width_words]) for _ in range(n_lines)]


def _zip(entries: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in entries.items():
            z.writestr(name, body)
    return buf.getvalue()


_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_S_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_docx(paragraphs: list[str], table: list[list[str]] | None = None) -> bytes:
    body = []
    for p in paragraphs:
        runs = p.split(". ")
        rx = "".join(f"<w:r><w:t xml:space=\"preserve\">{_xml_escape(r)}. </w:t></w:r>" for r in runs)
        body.append(f"<w:p>{rx}</w:p>")
    if table:
        rows = "".join(
            "<w:tr>" + "".join(f"<w:tc><w:p><w:r><w:t>{_xml_escape(c)}</w:t></w:r></w:p></w:tc>" for c in row) + "</w:tr>"
            for row in table
        )
        body.append(f"<w:tbl>{rows}</w:tbl>")
    doc = f'<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w="{_W_NS}"><w:body>{"".join(body)}<w:sectPr/></w:body></w:document>'
    return _zip({
        "[Content_Types].xml": '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>',
        "word/document.xml": doc,
    })


def write_xlsx(rows: list[list[str | int]]) -> bytes:
    shared: list[str] = []
    index: dict[str, int] = {}
    xml_rows = []
    for r, row in enumerate(rows, 1):
        cells = []
        for c, v in enumerate(row):
            ref = f"{chr(65 + c)}{r}"
            if isinstance(v, int):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                if v not in index:
                    index[v] = len(shared)
                    shared.append(v)
                cells.append(f'<c r="{ref}" t="s"><v>{index[v]}</v></c>')
        xml_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    sst = "".join(f"<si><t>{_xml_escape(s)}</t></si>" for s in shared)
    return _zip({
        "[Content_Types].xml": '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>',
        "xl/workbook.xml": f'<?xml version="1.0"?><workbook xmlns="{_S_NS}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/sharedStrings.xml": f'<?xml version="1.0"?><sst xmlns="{_S_NS}" count="{len(shared)}">{sst}</sst>',
        "xl/worksheets/sheet1.xml": f'<?xml version="1.0"?><worksheet xmlns="{_S_NS}"><sheetData>{"".join(xml_rows)}</sheetData></worksheet>',
    })


#: file kinds and their share of the ``binary_files`` workload
BINARY_KINDS = (
    ("pdf", 0.22),
    ("pdf_2col", 0.12),
    ("pdf_imageonly", 0.08),
    ("docx", 0.16),
    ("xlsx", 0.12),
    ("html", 0.12),
    ("text", 0.12),
    ("corrupt", 0.03),
    ("unsupported", 0.03),
)


def _binary_file(rng: random.Random, kind: str, doc_id: str) -> tuple[str, bytes]:
    if kind == "pdf":
        pages = []
        for _ in range(rng.randint(1, 3)):
            lines = _pdf_lines(rng, rng.randint(25, 45), rng.randint(9, 13))
            pages.append([(72, 740 - 14 * i, t) for i, t in enumerate(lines)])
        return f"{doc_id}.pdf", write_pdf(pages, compress=rng.random() < 0.5)
    if kind == "pdf_2col":
        pages = []
        for _ in range(rng.randint(1, 2)):
            left = _pdf_lines(rng, rng.randint(30, 45), 6)
            right = _pdf_lines(rng, rng.randint(30, 45), 6)
            runs = [(56, 740 - 14 * i, t) for i, t in enumerate(left)]
            runs += [(320, 740 - 14 * i, t) for i, t in enumerate(right)]
            rng.shuffle(runs)  # content-stream order is not reading order
            pages.append(runs)
        return f"{doc_id}.pdf", write_pdf(pages, compress=True)
    if kind == "pdf_imageonly":
        n_pages = rng.randint(1, 3)
        return f"{doc_id}.pdf", write_pdf([[] for _ in range(n_pages)], image=True)
    if kind == "docx":
        paras = [prose(rng, rng.randint(30, 120)) for _ in range(rng.randint(3, 12))]
        table = None
        if rng.random() < 0.4:
            table = [[prose(rng, 3)[:-1] for _ in range(3)] for _ in range(rng.randint(2, 6))]
        return f"{doc_id}.docx", write_docx(paras, table)
    if kind == "xlsx":
        rows: list[list[str | int]] = [["region", "product", "units", "note"]]
        for _ in range(rng.randint(20, 120)):
            rows.append([
                rng.choice(_CONTENT).title(), rng.choice(_CONTENT), rng.randrange(10_000),
                prose(rng, rng.randint(3, 10)),
            ])
        return f"{doc_id}.xlsx", write_xlsx(rows)
    if kind == "html":
        return f"{doc_id}.html", html_page(rng, rng.randint(3_000, 15_000), doc_id).encode("utf-8")
    if kind == "text":
        paras = "\n\n".join(prose(rng, rng.randint(40, 150)) for _ in range(rng.randint(2, 8)))
        return f"{doc_id}.txt", paras.encode("utf-8")
    if kind == "corrupt":
        r = rng.random()
        if r < 0.5:
            good = write_docx([prose(rng, 60)])
            return f"{doc_id}.docx", good[: len(good) // 2]  # truncated archive
        return f"{doc_id}.pdf", b"%PDX-1.4\n" + bytes(rng.randrange(256) for _ in range(600))
    # unsupported
    r = rng.random()
    if r < 0.4:
        return f"{doc_id}.png", b"\x89PNG\r\n\x1a\n" + bytes(rng.randrange(256) for _ in range(300))
    if r < 0.7:
        return f"{doc_id}.pptx", _zip({"ppt/presentation.xml": "<p/>", "[Content_Types].xml": "<Types/>"})
    return f"{doc_id}.bin", bytes(rng.randrange(256) for _ in range(400))


def binary_files(seed: int, n_files: int) -> list[tuple[str, str, bytes, str]]:
    """``(doc_id, filename, content, kind)`` rows; ``kind`` is the
    generator's label, kept for per-kind reporting only."""
    rng = random.Random(f"binary_files:{seed}")
    kinds = [k for k, _ in BINARY_KINDS]
    weights = [w for _, w in BINARY_KINDS]
    out = []
    for d in range(n_files):
        doc_id = f"file-{seed}-{d:06d}"
        kind = rng.choices(kinds, weights)[0]
        name, data = _binary_file(rng, kind, doc_id)
        out.append((doc_id, name, data, kind))
    return out

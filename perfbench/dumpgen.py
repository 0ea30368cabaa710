"""Seeded synthetic Discogs dumps with planted expectations.

``generate(out_dir, seed, n_releases)`` writes four gzipped XML dumps
(releases, artists, labels, masters in the reference's 15:8:2:2 ratio) and
returns a manifest holding, for each of the seven output tables, the row
count and an order-insensitive content digest of what a correct load must
produce: first-wins dedup on the record id, then the default-fill rules of
``operators/shred.py`` (absent string -> '', absent int -> 0, absent list
-> []).

Shapes planted on purpose: ~1% duplicate ids (release duplicates are exact
copies; artist/label/master duplicates differ, so the first occurrence must
win), ``<label>`` elements nested in a label record's ``<sublabels>``,
self-closing ``<label .../>`` links, several labels and videos per release,
``&amp;`` entities and non-ASCII text. Every file is well-formed.

The same seed gives byte-identical files (gzip header mtime pinned to 0).
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
from xml.sax.saxutils import escape, quoteattr

RATIO = {"releases": 15, "artists": 8, "labels": 2, "masters": 2}
DUP_RATE = 0.01

TABLE_COLUMNS = {
    "release": ["id", "status", "title", "country", "released", "notes",
                "genres", "styles", "master_id", "data_quality"],
    "release_label": ["release_id", "label", "catno", "label_id"],
    "release_video": ["release_id", "duration", "src", "title"],
    "artist": ["id", "name", "real_name", "profile", "data_quality",
               "name_variations", "urls", "aliases", "members"],
    "label": ["id", "name", "contactinfo", "profile", "parent_label",
              "sublabels", "urls", "data_quality"],
    "master": ["id", "title", "release_id", "year", "notes", "genres",
               "styles", "data_quality"],
    "master_artist": ["artist_id", "master_id", "name", "anv", "role"],
}

_WORDS = (
    "midnight circuit glass harbor copper fields velvet static echo north "
    "river signal orbit ember drift pulse hollow lantern quartz tide "
    "Röyksopp Björk Mötley Ørsted Sigur Rós café naïve Zürich 東京 夜明け "
    "Дождь Łódź"
).split()
_GENRES = ["Electronic", "Rock", "Jazz", "Hip Hop", "Folk, World, & Country",
           "Classical", "Funk / Soul", "Pop", "Reggae", "Blues"]
_STYLES = ["Deep House", "Techno", "Ambient", "Dub", "Bossa Nova", "Krautrock",
           "Drum n Bass", "Shoegaze", "Free Jazz", "Synth-pop", "Trip Hop"]
_STATUS = ["Accepted", "Draft", "Rejected"]
_QUALITY = ["Correct", "Needs Vote", "Complete and Correct", "Needs Major Changes"]
_COUNTRIES = ["US", "UK", "SE", "DE", "JP", "FR", "Brazil", "Україна", "Россия"]
_ROLES = ["Producer", "Remix", "Vocals", "Written-By", "Mixed By & Edited By"]


def row_digest(row: list) -> int:
    """64-bit hash of one output row (values in table column order)."""
    text = json.dumps(row, ensure_ascii=False, separators=(",", ":"))
    return int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")


def table_digest(rows) -> str:
    """Order-insensitive multiset digest: sum of row hashes mod 2**64."""
    return f"{sum(row_digest(r) for r in rows) % (1 << 64):016x}"


class _Gen:
    def __init__(self, seed: int) -> None:
        self.r = random.Random(seed)

    def text(self, lo: int, hi: int, amp: float = 0.1) -> str:
        words = [self.r.choice(_WORDS) for _ in range(self.r.randint(lo, hi))]
        if self.r.random() < amp:
            words.insert(self.r.randrange(len(words) + 1), "&")
        return " ".join(words)

    def maybe(self, p: float) -> bool:
        return self.r.random() < p

    def some(self, pool: list[str], hi: int) -> list[str]:
        return self.r.sample(pool, self.r.randint(0, hi))


def _el(tag: str, value) -> str:
    return "" if value is None else f"<{tag}>{escape(str(value))}</{tag}>"


def _list_el(outer: str, inner: str, values: list[str]) -> str:
    if not values:
        return ""
    return f"<{outer}>" + "".join(_el(inner, v) for v in values) + f"</{outer}>"


def _s(v):
    return "" if v is None else v


def _i(v):
    return 0 if v is None else v


def _releases(g: _Gen, n: int, n_masters: int, n_labels: int):
    xml, rows = [], {"release": [], "release_label": [], "release_video": []}
    for rid in range(1, n + 1):
        status = g.r.choice(_STATUS)
        title = g.text(1, 5)
        country = g.r.choice(_COUNTRIES) if g.maybe(0.9) else None
        released = (
            None if g.maybe(0.05) else
            str(g.r.randint(1950, 2024)) if g.maybe(0.3) else
            f"{g.r.randint(1950, 2024)}-{g.r.randint(1, 12):02d}-{g.r.randint(1, 28):02d}"
        )
        notes = g.text(3, 30, amp=0.5) if g.maybe(0.5) else None
        master_id = g.r.randint(1, n_masters) if g.maybe(0.8) else None
        quality = g.r.choice(_QUALITY)
        genres, styles = g.some(_GENRES, 3), g.some(_STYLES, 3)
        labels = [
            (g.text(1, 3), f"CAT-{g.r.randint(1, 99999)}", g.r.randint(1, n_labels))
            for _ in range(g.r.randint(0, 3))
        ]
        videos = [
            (f"https://video.example/{rid}/{k}", g.r.randint(30, 900),
             g.text(1, 6) if g.maybe(0.9) else None)
            for k in range(g.r.randint(0, 2))
        ]
        parts = [f"<release id=\"{rid}\" status=\"{status}\">", _el("title", title),
                 _el("country", country), _el("released", released), _el("notes", notes),
                 _el("data_quality", quality), _el("master_id", master_id),
                 _list_el("genres", "genre", genres), _list_el("styles", "style", styles)]
        if labels:
            parts.append("<labels>" + "".join(
                f"<label name={quoteattr(nm)} catno={quoteattr(cat)} id=\"{lid}\"/>"
                for nm, cat, lid in labels) + "</labels>")
        if videos:
            parts.append("<videos>" + "".join(
                f"<video src={quoteattr(src)} duration=\"{dur}\">{_el('title', t)}</video>"
                for src, dur, t in videos) + "</videos>")
        parts.append("</release>")
        rec = "".join(parts)
        xml.append(rec)
        if g.maybe(DUP_RATE):
            # an exact copy: the release dump is pre-sharded, and the shard
            # boundary may fall between the two occurrences
            xml.append(rec)
        rows["release"].append([rid, status, title, _s(country), _s(released), _s(notes),
                                genres, styles, _i(master_id), quality])
        rows["release_label"] += [[rid, nm, cat, lid] for nm, cat, lid in labels]
        rows["release_video"] += [[rid, dur, src, _s(t)] for src, dur, t in videos]
    return xml, rows


def _artists(g: _Gen, n: int):
    xml, rows = [], []
    for aid in range(1, n + 1):
        versions = [g.text(1, 3)] + ([g.text(1, 3)] if g.maybe(DUP_RATE) else [])
        real = g.text(2, 3) if g.maybe(0.6) else None
        profile = g.text(1, 25, amp=0.3) if g.maybe(0.7) else None
        quality = g.r.choice(_QUALITY) if g.maybe(0.95) else None
        variations = [g.text(1, 3) for _ in range(g.r.randint(0, 3))]
        urls = [f"https://artist.example/{aid}/{k}" for k in range(g.r.randint(0, 2))]
        aliases = [(g.r.randint(1, n), g.text(1, 2)) for _ in range(g.r.randint(0, 2))]
        members = [(g.r.randint(1, n), g.text(1, 2)) for _ in range(g.r.randint(0, 3))]
        for k, name in enumerate(versions):
            parts = [f"<artist><id>{aid}</id>", _el("name", name), _el("realname", real),
                     _el("profile", profile), _el("data_quality", quality),
                     _list_el("namevariations", "name", variations),
                     _list_el("urls", "url", urls)]
            if aliases:
                parts.append("<aliases>" + "".join(
                    f"<name id=\"{i}\">{escape(v)}</name>" for i, v in aliases) + "</aliases>")
            if members:
                parts.append("<members>" + "".join(
                    f"<id>{i}</id><name id=\"{i}\">{escape(v)}</name>" for i, v in members)
                    + "</members>")
            parts.append("</artist>")
            xml.append("".join(parts))
        rows.append([aid, versions[0], _s(real), _s(profile), _s(quality), variations,
                     urls, [v for _, v in aliases], [v for _, v in members]])
    return xml, rows


def _labels(g: _Gen, n: int):
    xml, rows = [], []
    for lid in range(1, n + 1):
        versions = [g.text(1, 3)] + ([g.text(1, 3)] if g.maybe(DUP_RATE) else [])
        contact = g.text(3, 10, amp=0.5) if g.maybe(0.5) else None
        profile = g.text(1, 20) if g.maybe(0.6) else None
        parent = g.text(1, 3) if g.maybe(0.3) else None
        sublabels = [g.text(1, 3) for _ in range(g.r.randint(0, 3))]
        urls = [f"https://label.example/{lid}/{k}" for k in range(g.r.randint(0, 2))]
        quality = g.r.choice(_QUALITY)
        for name in versions:
            xml.append("".join([
                f"<label><id>{lid}</id>", _el("name", name), _el("contactinfo", contact),
                _el("profile", profile), _el("parent_label", parent),
                _el("data_quality", quality),
                # nested same-name <label> elements inside the record
                _list_el("sublabels", "label", sublabels),
                _list_el("urls", "url", urls), "</label>",
            ]))
        rows.append([lid, versions[0], _s(contact), _s(profile), _s(parent), sublabels,
                     urls, quality])
    return xml, rows


def _masters(g: _Gen, n: int, n_releases: int, n_artists: int):
    xml, rows = [], {"master": [], "master_artist": []}
    for mid in range(1, n + 1):
        versions = [g.text(1, 5)] + ([g.text(1, 5)] if g.maybe(DUP_RATE) else [])
        main = g.r.randint(1, n_releases) if g.maybe(0.95) else None
        year = g.r.randint(1950, 2024) if g.maybe(0.9) else None
        notes = g.text(3, 20, amp=0.5) if g.maybe(0.3) else None
        quality = g.r.choice(_QUALITY)
        genres, styles = g.some(_GENRES, 2), g.some(_STYLES, 3)
        artists = [
            (g.r.randint(1, n_artists), g.text(1, 3),
             g.text(1, 2) if g.maybe(0.2) else None,
             g.r.choice(_ROLES) if g.maybe(0.5) else None)
            for _ in range(g.r.randint(0, 3))
        ]
        art_xml = ""
        if artists:
            art_xml = "<artists>" + "".join(
                f"<artist><id>{a}</id>{_el('name', nm)}{_el('anv', anv)}"
                f"{_el('role', role)}<join>,</join></artist>"
                for a, nm, anv, role in artists) + "</artists>"
        for title in versions:
            xml.append("".join([
                f"<master id=\"{mid}\">", _el("main_release", main), _el("title", title),
                _el("year", year), _el("notes", notes), _el("data_quality", quality),
                _list_el("genres", "genre", genres), _list_el("styles", "style", styles),
                art_xml, "</master>",
            ]))
        rows["master"].append([mid, versions[0], _i(main), _i(year), _s(notes), genres,
                               styles, quality])
        rows["master_artist"] += [[a, mid, nm, _s(anv), _s(role)]
                                  for a, nm, anv, role in artists]
    return xml, rows


def _write(path: str, root: str, records: list[str]) -> int:
    body = (
        f'<?xml version="1.0" encoding="UTF-8"?>\n<{root}>\n'
        + "\n".join(records) + f"\n</{root}>\n"
    ).encode()
    with open(path, "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=6
    ) as gz:
        gz.write(body)
    return len(body)


def generate(out_dir: str, seed: int, n_releases: int) -> dict:
    """Write the four dumps into ``out_dir``; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    unit = n_releases / RATIO["releases"]
    n = {k: max(1, round(unit * v)) for k, v in RATIO.items()}
    g = _Gen(seed)
    rel_xml, rel_rows = _releases(g, n["releases"], n["masters"], n["labels"])
    art_xml, art_rows = _artists(g, n["artists"])
    lab_xml, lab_rows = _labels(g, n["labels"])
    mas_xml, mas_rows = _masters(g, n["masters"], n["releases"], n["artists"])
    files, records, xml_bytes = {}, 0, {}
    for kind, recs in [("releases", rel_xml), ("artists", art_xml),
                       ("labels", lab_xml), ("masters", mas_xml)]:
        files[kind] = os.path.join(out_dir, f"discogs_{kind}.xml.gz")
        xml_bytes[kind] = _write(files[kind], kind, recs)
        records += len(recs)
    tables = {**rel_rows, "artist": art_rows, "label": lab_rows, **mas_rows}
    return {
        "files": files,
        "input_records": records,
        "releases_xml_bytes": xml_bytes["releases"],
        "expected": {
            t: {"rows": len(rs), "digest": table_digest(rs)} for t, rs in tables.items()
        },
    }

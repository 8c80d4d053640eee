"""DMS-behavior tests — pin the Tier-R semantics including the documented
bug deviations (SURVEY.md §2 notes B1-B4, FIXTURES.md §B)."""

from __future__ import annotations

import struct

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from dmshadoop_spark.dms import DocumentStore, extract_metadata


def make_png(width: int = 320, height: int = 200) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", width, height)
        + b"\x08\x02\x00\x00\x00"
    )


def make_jpeg(width: int = 320, height: int = 240) -> bytes:
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", height, width) + b"\x01\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


@pytest.fixture()
def store(spark, tmp_path):
    return DocumentStore(spark, str(tmp_path / "dms"))


def test_b1_numeric_latest_version(store):
    """12 versions: latest must be 12, not lexicographic 9 (src/DMS.py:391)."""
    for i in range(12):
        v = store.upload("report.txt", f"report rev {i}".encode())
        assert v == i + 1
    assert store.get_lastest_version("report.txt") == 12
    assert store.download("report.txt") == b"report rev 11"


def test_b2_anchored_name_match(store):
    """'a.txt' versions must not include 'bba.txt' rows (src/DMS.py:373)."""
    store.upload("a.txt", b"alpha v1")
    store.upload("a.txt", b"alpha v2")
    store.upload("bba.txt", b"beta v1")
    assert store.get_file_version("a.txt") == [1, 2]
    assert store.get_file_version("bba.txt") == [1]


def test_b3_dotted_filename(store):
    """'my.doc.txt' survives delete_all bookkeeping intact (src/DMS.py:413)."""
    for i in range(3):
        store.upload("my.doc.txt", f"v{i}".encode())
    assert store.get_file_version("my.doc.txt") == [1, 2, 3]
    store.delete("my.doc.txt", 2)
    assert store.get_file_version("my.doc.txt") == [1, 3]
    store.delete_all()
    assert store.get_file_version("my.doc.txt") == []


def test_b4_colon_metadata_split_first_colon_only():
    """'- Creation date: 2014-04-25 14:22:33' keeps the full value
    (the reference kept split(':')[1] → ' 2014-04-25 14')."""
    meta = extract_metadata(b"- Creation date: 2014-04-25 14:22:33\nbody")
    assert meta["Creation date"] == "2014-04-25 14:22:33"


def test_version_gap_next_is_max_plus_one(store):
    """Versions {1,3} (2 deleted) → next upload gets 4 (W2 semantics)."""
    for _ in range(3):
        store.upload("gap.txt", b"x")
    assert store.delete("gap.txt", 2)
    assert store.get_file_version("gap.txt") == [1, 3]
    assert store.upload("gap.txt", b"y") == 4


def test_binary_ingest_and_image_dimensions(store):
    png = make_png(320, 200)
    store.upload("pic.png", png)
    meta = store.get_file_meta_data("pic.png")
    assert meta["content_type"] == "image/png"
    assert (meta["width"], meta["height"]) == ("320", "200")
    assert store.download("pic.png") == png

    jpg = make_jpeg(640, 480)
    meta2 = extract_metadata(jpg)
    assert meta2["content_type"] == "image/jpeg"
    assert (meta2["width"], meta2["height"]) == ("640", "480")


def test_append_commit_is_crash_atomic(store, tmp_path):
    """Inserts are generation commits: an unmarked gen dir (simulated
    crash) is invisible to readers and swept by the next insert; old
    generations stay immutable so in-flight readers are never torn."""
    import os

    store.upload("a.txt", b"v1")
    base = store.base_dir
    gen0_files = sorted(os.listdir(os.path.join(base, "gen=0")))

    # Simulate a crash mid-commit: gen=1 exists but has no _SUCCESS.
    torn = os.path.join(base, "gen=1")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-torn.parquet"), "wb") as f:
        f.write(b"\x00garbage")
    assert store.get_file_version("a.txt") == [1]  # torn gen invisible
    assert store.download("a.txt") == b"v1"

    # Next insert sweeps the debris and commits a complete gen=1.
    assert store.upload("a.txt", b"v2") == 2
    assert store.download("a.txt") == b"v2"
    assert store.download("a.txt", 1) == b"v1"
    assert os.path.exists(os.path.join(base, "gen=1", "_SUCCESS"))
    assert not os.path.exists(os.path.join(base, "gen=1", "part-torn.parquet"))
    # gen=0 untouched by the insert (snapshot immutability)
    assert sorted(os.listdir(os.path.join(base, "gen=0"))) == gen0_files


def test_gif_dimensions():
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    meta = extract_metadata(gif)
    assert meta["content_type"] == "image/gif"
    assert (meta["width"], meta["height"]) == ("320", "200")


def test_time_travel_generations(store):
    """df(generation=N) reads the immutable historical snapshot; history()
    lists committed generations only."""
    store.upload("t.txt", b"v1")          # gen 0
    store.upload("t.txt", b"v2")          # gen 1
    assert store.delete("t.txt", 1)       # gen 2 (v1 removed)
    assert store.history() == [0, 1, 2]
    assert store.df(0).count() == 1
    assert store.df(1).count() == 2
    assert sorted(r["version"] for r in store.df(2).collect()) == [2]
    with pytest.raises(ValueError):
        store.df(99)


def test_exif_roundtrip_all_fields():
    """encode_exif_jpeg → extract_metadata recovers every written field,
    including the colon-bearing datetime (the B4 class of value)."""
    from dmshadoop_spark.multimodal import encode_exif_jpeg

    jpg = encode_exif_jpeg(
        640, 480, make="dmshadoop", model="cam-es",
        datetime="2014:04:25 14:22:33", iso=400,
    )
    meta = extract_metadata(jpg)
    assert meta["content_type"] == "image/jpeg"
    assert (meta["width"], meta["height"]) == ("640", "480")
    assert meta["exif_make"] == "dmshadoop"
    assert meta["exif_model"] == "cam-es"
    assert meta["exif_datetime"] == "2014:04:25 14:22:33"
    assert meta["exif_datetime_original"] == "2014:04:25 14:22:33"
    assert meta["exif_iso"] == "400"
    assert (meta["exif_pixel_x"], meta["exif_pixel_y"]) == ("640", "480")
    # deterministic encoder (the x6_exif_meta oracle depends on it)
    assert jpg == encode_exif_jpeg(
        640, 480, make="dmshadoop", model="cam-es",
        datetime="2014:04:25 14:22:33", iso=400,
    )


def test_exif_big_endian_tiff():
    """The IFD walk honors MM byte order (hand-built: one Make entry)."""
    from dmshadoop_spark.dms.extract import _parse_tiff_exif

    make = b"bigend\x00"
    tiff = (
        b"MM\x00\x2a" + struct.pack(">I", 8)           # header → IFD0 at 8
        + struct.pack(">H", 1)                          # 1 entry
        + struct.pack(">HHI", 0x010F, 2, len(make))     # Make, ASCII
        + struct.pack(">I", 8 + 2 + 12 + 4)             # value offset
        + struct.pack(">I", 0)                          # next IFD
        + make
    )
    assert _parse_tiff_exif(tiff) == {"exif_make": "bigend"}


@given(st.binary(max_size=256))
@settings(max_examples=200, deadline=None)
def test_exif_parser_never_raises_on_junk(junk):
    """Malformed APP1 payloads must degrade to partial/empty maps, never
    exceptions — the extraction UDF runs on arbitrary ingested bytes."""
    framed = (
        b"\xff\xd8\xff\xe1"
        + struct.pack(">H", len(junk) + 8)
        + b"Exif\x00\x00"
        + junk
    )
    extract_metadata(framed)
    extract_metadata(b"\xff\xd8" + junk)


def test_update_works_and_bumps_content(store):
    """The reference's update() is dead code (undefined t, src/DMS.py:228);
    ours must actually replace content in place."""
    store.upload("u.txt", b"old v1")
    store.upload("u.txt", b"old v2")
    assert store.update("u.txt", b"new v2")
    assert store.download("u.txt", 2) == b"new v2"
    assert store.download("u.txt", 1) == b"old v1"
    assert store.get_file_version("u.txt") == [1, 2]
    assert not store.update("missing.txt", b"zz")


def test_delete_all_version_and_missing(store):
    store.upload("d.txt", b"1")
    store.upload("d.txt", b"2")
    store.upload("keep.txt", b"k")
    assert store.delete_all_version("d.txt")
    assert store.get_file_version("d.txt") == []
    assert store.get_file_version("keep.txt") == [1]
    assert not store.delete_all_version("d.txt")
    assert not store.delete("d.txt")


def test_search_tf_ranked(store):
    store.upload("a.txt", b"spark join spark window")
    store.upload("b.txt", b"join filter scan")
    store.upload("c.txt", b"nothing relevant")
    store.upload("pic.png", make_png())  # non-text must be ignored
    rows = store.search("spark join").collect()
    names = [(r["name"], r["score"]) for r in rows]
    assert names[0] == ("a.txt", 3)
    assert ("b.txt", 1) in names
    assert all(n != "c.txt" for n, _ in names)


def test_metadata_has_ingest_fields(store):
    store.upload("m.txt", b"hello world")
    meta = store.get_file_meta_data("m.txt")
    assert meta["length"] == "11"
    assert meta["word_count"] == "2"
    assert len(meta["sha256"]) == 64


@settings(max_examples=5, deadline=None)
@given(
    content=st.binary(min_size=0, max_size=512),
    n_versions=st.integers(min_value=1, max_value=3),
)
def test_roundtrip_property(spark, tmp_path_factory, content, n_versions):
    """upload→download round-trip preserves bytes; version monotonic."""
    store = DocumentStore(
        spark, str(tmp_path_factory.mktemp("dms_prop"))
    )
    for i in range(n_versions):
        assert store.upload("f.bin", content + bytes([i])) == i + 1
    got = store.download("f.bin")
    assert got == content + bytes([n_versions - 1])


def test_bulk_ingest_versions_and_metadata(spark, store):
    """Distributed ingest: one job, set-oriented version assignment that
    composes with pre-existing versions."""
    store.upload("a.txt", b"existing v1")
    batch = spark.createDataFrame(
        [
            ("a.txt", b"bulk one"),
            ("a.txt", b"bulk two longer"),
            ("b.txt", b"fresh doc"),
        ],
        "name string, content binary",
    )
    assert store.bulk_ingest(batch) == 3
    assert store.get_file_version("a.txt") == [1, 2, 3]
    assert store.get_file_version("b.txt") == [1]
    meta = store.get_file_meta_data("b.txt")
    assert meta["content_type"] == "text/plain"
    assert meta["length"] == "9"
    # shorter content got the lower version (deterministic ordering)
    assert store.download("a.txt", 2) == b"bulk one"
    assert store.download("a.txt", 3) == b"bulk two longer"


def test_bulk_ingest_refuses_null_content(spark, store):
    """A row without content is refused by the write task with a
    ValueError naming the document, and nothing is committed."""
    store.upload("a.txt", b"existing v1")
    before = store.history()
    batch = spark.createDataFrame(
        [("b.txt", b"fine"), ("empty.txt", None)],
        "name string, content binary",
    )
    with pytest.raises(Exception, match=r"ValueError: .*'empty\.txt'.*null content"):
        store.bulk_ingest(batch)
    assert store.history() == before


def test_generation_diff(store):
    """diff(gen_a, gen_b) is the change-data feed between two immutable
    snapshots: inserts/deletes/updates by document key, no false updates
    from carried-over rows."""
    store.upload("a.txt", b"one")             # gen 0
    store.upload("b.txt", b"bee")             # gen 1
    g1 = store.history()[-1]
    assert store.update("a.txt", b"ONE", version=1)   # gen 2
    assert store.delete("b.txt", 1)           # gen 3
    store.upload("c.txt", b"sea")             # gen 4
    g2 = store.history()[-1]
    changes = {
        (r.change_type, r.name, r.version)
        for r in store.diff(g1, g2).collect()
    }
    assert changes == {
        ("update", "a.txt", 1),
        ("delete", "b.txt", 1),
        ("insert", "c.txt", 1),
    }
    assert store.diff(g2, g2).count() == 0
    # reverse direction flips insert/delete
    rev = {
        (r.change_type, r.name, r.version)
        for r in store.diff(g2, g1).collect()
    }
    assert ("insert", "b.txt", 1) in rev and ("delete", "c.txt", 1) in rev


def test_compact_preserves_rows_and_shrinks_files(store):
    """compact() must rewrite the snapshot into the target file count as a
    new generation with ZERO row changes (empty diff), leaving history
    time-travelable."""
    import glob

    for i in range(6):
        store.upload(f"c{i}.txt", f"payload-{i}".encode())
    before_gen = store.history()[-1]
    n_before = store.df().count()
    files_before = glob.glob(f"{store._gen_path(before_gen)}/*.parquet")
    assert len(files_before) >= 6  # one appended part-file per upload
    new_gen = store.compact(target_files=1)
    assert new_gen == before_gen + 1
    files_after = glob.glob(f"{store._gen_path(new_gen)}/*.parquet")
    assert len(files_after) == 1
    assert store.df().count() == n_before
    assert store.diff(before_gen, new_gen).count() == 0
    assert store.df(before_gen).count() == n_before  # time travel intact


def test_vacuum_drops_old_generations_keeps_data(store):
    """vacuum() removes old generation dirs; hardlinked data reachable from
    the kept snapshot must remain fully readable (shared inodes)."""
    import pytest as _pytest

    store.upload("v.txt", b"alpha")
    store.upload("v.txt", b"beta")
    store.upload("w.txt", b"gamma")
    gens = store.history()
    assert len(gens) >= 3
    removed = store.vacuum(keep_last=1)
    assert removed == gens[:-1]
    assert store.history() == [gens[-1]]
    # data (incl. content linked from the oldest commit) still reads back
    assert store.download("v.txt", 1) == b"alpha"
    assert store.download("w.txt") == b"gamma"
    with _pytest.raises(ValueError):
        store.df(removed[0])


@given(st.binary(max_size=512))
@settings(max_examples=200, deadline=None)
def test_container_parsers_never_crash_on_junk(junk):
    """parse_mp3/parse_mp4/decode_jpeg run on arbitrary ingested bytes
    inside Arrow-batched UDFs — malformed input must surface as the
    documented ValueError/NotImplementedError (callers fall back), never
    as IndexError/struct.error/unbounded recursion. extract_metadata must
    never raise at all."""
    from dmshadoop_spark.multimodal import parse_mp3, parse_mp4
    from dmshadoop_spark.multimodal.jpeg import decode_jpeg

    for parser in (parse_mp3, parse_mp4, decode_jpeg):
        try:
            parser(junk)
        except (ValueError, NotImplementedError):
            pass
    # past-the-magic junk: a valid SOI followed by garbage exercises the
    # marker walk / entropy decode, not just the signature check
    # (round-3 ADVICE: truncated streams leaked IndexError/struct.error)
    try:
        decode_jpeg(b"\xff\xd8" + junk)
    except (ValueError, NotImplementedError):
        pass
    extract_metadata(junk)
    # framed variants: valid magics with junk bodies
    extract_metadata(b"\x00\x00\x00\x14ftyp" + junk)
    extract_metadata(b"ID3" + junk)
    extract_metadata(b"\xff\xfb" + junk)


def test_reference_demo_flow_real_fixture(store):
    """The reference's own demo (demo/demo.py:14): upload its JPEG
    fixture into the store, read metadata back (the hachoir surface,
    src/DMS.py:70-91), and — beyond reference parity — decode the actual
    pixels with our progressive-JPEG codec."""
    import os

    import numpy as np

    from dmshadoop_spark.multimodal import decode_jpeg

    path = "/root/reference/demo/example_picture.jpg"
    if not os.path.exists(path):
        pytest.skip("reference fixture not present")
    blob = open(path, "rb").read()
    v = store.upload("example_picture.jpg", blob)
    assert v == 1
    meta = store.get_file_meta_data("example_picture.jpg")
    assert meta["content_type"] == "image/jpeg"
    # SOF2 dims surface through the segment walk (438 wide, 431 high)
    assert (meta["width"], meta["height"]) == ("438", "431")
    back = store.download("example_picture.jpg")
    assert back == blob  # byte-exact round trip through the store
    arr = decode_jpeg(back)
    assert arr.shape == (431, 438, 3)
    assert 150 < float(np.mean(arr)) < 185  # a real photo, not noise


def test_sniff_mp3_requires_full_frame_not_sync_prefix():
    """The 2-byte MPEG sync (FF Ex) over-matches: a UTF-16-LE BOM is
    FF FE and can even form a structurally valid 4-byte frame header by
    chance, so the sniffer demands a SECOND consecutive frame at the
    first frame's computed boundary (or an exact single-frame stream)
    before claiming audio/mpeg (round-3 ADVICE)."""
    from dmshadoop_spark.dms.extract import _sniff
    from dmshadoop_spark.multimodal import encode_mp3
    from dmshadoop_spark.multimodal.containers import _mp3_frame_at

    assert _sniff("hello utf-16 document".encode("utf-16")) == (
        "application/octet-stream"
    )
    assert _sniff(b"\xff\xe7\x00\x00junk") == "application/octet-stream"
    mp3 = encode_mp3(10, 128, 44100)
    assert _sniff(mp3) == "audio/mpeg"
    frame_len = _mp3_frame_at(mp3, 0)[0]
    assert _sniff(mp3[:frame_len]) == "audio/mpeg"       # exact single frame
    assert _sniff(b"ID3" + bytes(20)) == "audio/mpeg"    # tagged stream


def test_codec_family_raises_only_valueerror_on_malformed():
    """The whole codec family (not just decode_jpeg) surfaces malformed
    input as the documented ValueError: truncations and mutations of
    VALID payloads — which get past the magic check into the real parse —
    must never leak IndexError/struct.error/zlib.error."""
    import numpy as np

    from dmshadoop_spark.multimodal import (
        decode_jpeg, decode_png, encode_avi, encode_jpeg, encode_png,
        encode_wav, parse_avi, parse_wav,
    )

    img = (np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3) * 7 % 251)
    fixtures = [
        (decode_png, encode_png(img.astype(np.uint8))),
        (decode_jpeg, encode_jpeg(img.astype(np.uint8), quality=80)),
        (parse_wav, encode_wav(np.arange(300, dtype=np.int16), 8000)),
        (parse_avi, encode_avi([b"abc", b"defg"], 10)),
    ]
    import random

    rng = random.Random(5)
    for fn, valid in fixtures:
        fn(valid)  # the unmutated payload must still parse
        for cut in range(0, len(valid), 7):
            try:
                fn(valid[:cut])
            except (ValueError, NotImplementedError):
                pass
        b = bytearray(valid)
        for _ in range(300):
            i = rng.randrange(len(b))
            old = b[i]
            b[i] = rng.randrange(256)
            try:
                fn(bytes(b))
            except (ValueError, NotImplementedError):
                pass
            finally:
                b[i] = old


def test_pdf_metadata_extraction():
    """PDF metadata surface: Info-dict strings (literal with escapes AND
    UTF-16BE hex form), page count including FlateDecode-hidden pages,
    version from the header; wired through extract_metadata."""
    import zlib

    from dmshadoop_spark.multimodal import encode_pdf, parse_pdf

    pdf = encode_pdf(3, title="Quarterly Report", author="J. Doe",
                     producer="dmshadoop")
    m = parse_pdf(pdf)
    assert m["page_count"] == "3" and m["pdf_title"] == "Quarterly Report"
    assert m["pdf_version"] == "1.4"

    esc = pdf.replace(b"(Quarterly Report)", rb"(Line\)A\n\101)")
    assert parse_pdf(esc)["pdf_title"] == "Line)A\nA"
    hexed = pdf.replace(b"/Author (J. Doe)", b"/Author <FEFF004A00F6>")
    assert parse_pdf(hexed)["pdf_author"] == "Jö"

    # a page object hidden inside a FlateDecode object stream
    hidden = zlib.compress(b"<< /Type /Page /Parent 2 0 R >>")
    with_stream = pdf.replace(
        b"\nxref\n0 ",
        b"\n9 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(hidden)
        + hidden + b"\nendstream\nendobj\nxref\n0 ",
    )
    assert parse_pdf(with_stream)["page_count"] == "4"

    meta = extract_metadata(pdf)
    assert meta["content_type"] == "application/pdf"
    assert meta["page_count"] == "3" and meta["pdf_title"] == "Quarterly Report"


# --------------------------------------------------------------------------
# merge-on-read deletion vectors (round-10 verdict task 1)
# --------------------------------------------------------------------------


def _names(store):
    return sorted(r["name"] for r in store.df().select("name").collect())


def test_delete_is_tombstone_commit_not_rewrite(store):
    """delete() must commit a deletion vector: every data file of the new
    generation inode-shared with the previous generation (zero data
    rewritten), one tombstone file, one tombstone row — and reads
    exclude the key."""
    for i in range(4):
        store.upload(f"d{i}.txt", f"body {i}".encode())
    assert store.delete("d1.txt")
    lay = store.layout()
    assert lay["tombstone_rows"] == 1
    assert lay["tombstone_files"] == 1
    assert lay["data_files"] == lay["data_files_shared_with_prev"] > 0
    assert _names(store) == ["d0.txt", "d2.txt", "d3.txt"]
    # deleted key reports absent through every read-path method
    assert store.download("d1.txt") is None
    assert store.get_file_version("d1.txt") == []
    assert store.get_lastest_version("d1.txt") is None


def test_delete_missing_returns_false_without_commit(store):
    store.upload("a.txt", b"x")
    gens = store.history()
    assert not store.delete("nope.txt")
    assert not store.delete("a.txt", version=9)
    assert store.history() == gens  # no commit happened


def test_insert_after_delete_does_not_resurrect(store):
    """_append_commit must carry the tombstone sidecar forward: an insert
    after a delete keeps the deleted key invisible."""
    store.upload("a.txt", b"one")
    store.upload("b.txt", b"two")
    assert store.delete("a.txt")
    store.upload("c.txt", b"three")
    assert _names(store) == ["b.txt", "c.txt"]
    lay = store.layout()
    assert lay["tombstone_rows"] == 1


def test_delete_version_scoped_and_reupload_never_reuses_version(store):
    """Tombstones are (name, version) keyed: deleting the latest version
    exposes the previous one. A re-upload after deletes must NOT reuse a
    tombstoned version number — a reused key would be masked on read by
    the old deletion vector (the bug this test originally caught) and
    would break snapshot identity for diff/time travel."""
    v1 = store.upload("a.txt", b"v1")
    v2 = store.upload("a.txt", b"v2")
    assert (v1, v2) == (1, 2)
    assert store.delete("a.txt")  # latest = v2
    assert store.get_file_version("a.txt") == [1]
    assert store.download("a.txt") == b"v1"
    assert store.delete_all_version("a.txt")
    assert store.get_file_version("a.txt") == []
    # next upload continues PAST the tombstoned versions
    assert store.upload("a.txt", b"v3") == 3
    assert store.download("a.txt") == b"v3"
    # bulk_ingest takes the same tombstone-aware base version
    batch = store.spark.createDataFrame(
        [("a.txt", bytearray(b"v4"))], "name string, content binary"
    )
    assert store.bulk_ingest(batch) == 1
    assert store.get_file_version("a.txt") == [3, 4]
    assert store.download("a.txt") == b"v4"


def test_compact_folds_tombstones(store):
    """compact() is the copy-on-write half: the rewritten generation
    physically drops tombstoned rows and carries no sidecar."""
    for i in range(3):
        store.upload(f"d{i}.txt", f"b{i}".encode())
    store.delete("d0.txt")
    before = _names(store)
    store.compact()
    lay = store.layout()
    assert lay["tombstone_rows"] == lay["tombstone_files"] == 0
    assert _names(store) == before == ["d1.txt", "d2.txt"]


def test_time_travel_and_diff_across_tombstone_commits(store):
    """Each delete commit is a normal immutable generation: time travel
    to the pre-delete snapshot still sees the row; diff reports the
    delete."""
    store.upload("a.txt", b"one")
    store.upload("b.txt", b"two")
    g_before = store.history()[-1]
    store.delete("a.txt")
    g_after = store.history()[-1]
    assert sorted(
        r["name"] for r in store.df(g_before).select("name").collect()
    ) == ["a.txt", "b.txt"]
    changes = sorted(
        (r["change_type"], r["name"])
        for r in store.diff(g_before, g_after).collect()
    )
    assert changes == [("delete", "a.txt")]


def test_tombstone_read_plan_broadcasts_and_scans_data_once(store):
    """The merge-on-read scan must be: ONE scan of the generation's data
    files, anti-joined against a BROADCAST tombstone set — no shuffle of
    the data side, no second data pass, and the tombstone sidecar never
    appears in the data scan's file listing."""
    for i in range(3):
        store.upload(f"d{i}.txt", f"b{i}".encode())
    store.delete("d0.txt")
    df = store.df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    import re

    spark = store.spark
    fmt = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    locs = re.findall(r"Location:.*?\[(.*?)\]", fmt)
    assert len(locs) == 2  # one data scan + one tombstone scan, no more
    gen = store.history()[-1]
    tomb_locs = [p for p in locs if "_tombstones" in p]
    data_locs = [p for p in locs if "_tombstones" not in p]
    assert len(tomb_locs) == len(data_locs) == 1
    # the data scan reads the CURRENT generation and the hidden-file
    # filter keeps the sidecar out of it
    assert f"gen={gen}" in data_locs[0]


# --------------------------------------------------------------------------
# MP3 Xing/LAME/VBRI VBR headers (round-10 verdict task 8)
# --------------------------------------------------------------------------


def test_mp3_vbr_xing_roundtrip():
    """encode_mp3_vbr → parse_vbr_header recovers the stated frame
    count, exact byte count, and encoder; parse_mp3 derives the
    header-based duration fields; walk-derived fields keep counting the
    metadata frame (it is a spec-valid frame)."""
    from dmshadoop_spark.multimodal import (
        encode_mp3_vbr,
        parse_mp3,
        parse_vbr_header,
    )

    data = encode_mp3_vbr([96, 128, 160, 192, 96, 128], 44100)
    v = parse_vbr_header(data)
    assert v["tag"] == "Xing" and v["frames"] == 6
    assert v["bytes"] == len(data)
    assert v["encoder"] == "LAME3.100"
    m = parse_mp3(data)
    assert m["n_frames"] == 7  # walk includes the metadata frame
    assert m["vbr_frames"] == 6
    assert m["total_samples_vbr"] == 6 * 1152
    assert abs(m["duration_vbr"] - 6 * 1152 / 44100) < 1e-12


def test_mp3_vbr_truncated_fetch_reports_stated_duration():
    """The crawled-audio case the round-10 verdict flagged: a partially
    fetched VBR file's walk under-reports, the Xing header still states
    the full stream."""
    from dmshadoop_spark.multimodal import encode_mp3_vbr, parse_mp3

    data = encode_mp3_vbr([96, 128, 160, 192] * 5, 44100)  # 20 frames
    cut = parse_mp3(data[: len(data) // 3])
    assert cut["n_frames"] < 21  # walk sees only the fetched prefix
    assert cut["vbr_frames"] == 20  # header states the whole file
    assert cut["total_samples_vbr"] == 20 * 1152


def test_mp3_info_tag_and_cbr_without_header():
    from dmshadoop_spark.multimodal import (
        encode_mp3,
        encode_mp3_vbr,
        parse_mp3,
        parse_vbr_header,
    )

    assert parse_vbr_header(encode_mp3_vbr([128] * 4, tag="Info"))["tag"] == "Info"
    plain = encode_mp3(5)
    assert parse_vbr_header(plain) is None
    assert "vbr_tag" not in parse_mp3(plain)  # dict shape unchanged


def test_mp3_vbri_header():
    """Fraunhofer VBRI: fixed 36-byte offset, its own field layout."""
    from dmshadoop_spark.multimodal import encode_mp3, parse_vbr_header

    f = bytearray(encode_mp3(1))
    f[36:40] = b"VBRI"
    f[40:42] = (1).to_bytes(2, "big")   # version
    f[44:46] = (80).to_bytes(2, "big")  # quality
    f[46:50] = (9999).to_bytes(4, "big")  # bytes
    f[50:54] = (42).to_bytes(4, "big")  # frames
    v = parse_vbr_header(bytes(f) + encode_mp3(3))
    assert v == {
        "tag": "VBRI",
        "frames": 42,
        "bytes": 9999,
        "quality": 80,
        "encoder": None,
    }


def test_mp3_vbr_parser_never_misfires_on_payload_junk():
    """Zeroed / arbitrary payload bytes in the first frame must not be
    read as a VBR header, and flag-gated fields absent from a short
    frame return None instead of raising."""
    from dmshadoop_spark.multimodal import encode_mp3, parse_vbr_header

    assert parse_vbr_header(encode_mp3(3, 128, 44100)) is None
    # a Xing tag with ALL flag bits set but a frame too short to carry
    # the fields: parser must not raise
    f = bytearray(encode_mp3(1, 32, 44100))  # short 104-byte frame
    p = 4 + 32
    f[p : p + 4] = b"Xing"
    f[p + 4 : p + 8] = (0xF).to_bytes(4, "big")
    v = parse_vbr_header(bytes(f))
    assert v is not None and v["tag"] == "Xing"


def test_delete_commit_is_crash_atomic(store):
    """Deletion-vector commits follow the same all-or-nothing discipline
    as inserts: a torn delete generation (no _SUCCESS) is invisible —
    the key still reads back — and the next commit sweeps the debris."""
    import os

    store.upload("a.txt", b"v1")
    store.upload("b.txt", b"v2")
    base = store.base_dir
    # simulate a crash mid-delete-commit: gen=2 dir without _SUCCESS
    torn = os.path.join(base, "gen=2")
    os.makedirs(os.path.join(torn, "_tombstones"))
    with open(os.path.join(torn, "_tombstones", "part-torn.parquet"), "wb") as f:
        f.write(b"\x00garbage")
    assert store.history() == [0, 1]
    assert store.download("a.txt") == b"v1"  # torn tombstone invisible
    # the next real delete sweeps the debris and commits cleanly
    assert store.delete("a.txt")
    assert store.history() == [0, 1, 2]
    assert os.path.exists(os.path.join(base, "gen=2", "_SUCCESS"))
    assert not os.path.exists(
        os.path.join(base, "gen=2", "_tombstones", "part-torn.parquet")
    )
    assert store.download("a.txt") is None
    assert store.download("b.txt") == b"v2"


def test_compact_cluster_by_gives_disjoint_file_ranges(store):
    """compact(cluster_by=['name']) must produce part files with
    DISJOINT name ranges (parquet footer min/max), so point probes —
    the data-dependent half of a deletion-vector delete — skip every
    non-matching file. Rows are unchanged."""
    import os

    import pyarrow.parquet as pq

    for i in range(40):
        store.upload(f"doc-{i:03d}.txt", f"body {i}".encode())
    before = _names(store)
    store.compact(4, cluster_by=["name"])
    assert _names(store) == before
    gdir = store._gen_path(store.history()[-1])
    ranges = []
    for fn in sorted(os.listdir(gdir)):
        if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(gdir, fn)).metadata
        col = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }["name"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2  # range partitioning actually split
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary equality allowed)


def test_delete_where_bulk_tombstone_commit(store):
    """Predicate-shaped bulk delete: one tombstone commit covering every
    matching key, data files inode-shared, column-pruned scan; zero
    matches commits nothing."""
    for i in range(6):
        store.upload(f"d{i}.txt", (b"x" * (10 + i)))
    n = store.delete_where(F_len_ge_13())
    assert n == 3  # lengths 13, 14, 15
    assert _names(store) == ["d0.txt", "d1.txt", "d2.txt"]
    lay = store.layout()
    assert lay["tombstone_rows"] == 3
    assert lay["data_files"] == lay["data_files_shared_with_prev"] > 0
    gens = store.history()
    assert store.delete_where("length > 999") == 0
    assert store.history() == gens  # no commit on zero matches
    # SQL-string predicates work too
    assert store.delete_where("name = 'd0.txt'") == 1
    assert _names(store) == ["d1.txt", "d2.txt"]


def F_len_ge_13():
    from pyspark.sql import functions as F

    return F.col("length") >= 13


def test_adts_roundtrip_and_sniff():
    """encode_adts → parse_adts recovers frame count, sample facts, and
    profile; the sniffer claims audio/aac only with two consecutive
    valid frames; MPEG-audio and ADTS headers are mutually rejecting."""
    from dmshadoop_spark.dms.extract import _sniff, extract_metadata
    from dmshadoop_spark.multimodal import encode_adts, encode_mp3, parse_adts
    from dmshadoop_spark.multimodal.containers import (
        _adts_frame_at,
        _mp3_frame_at,
    )

    d = encode_adts(8, 44100, 2, profile=1)
    m = parse_adts(d)
    assert m["n_frames"] == 8 and m["total_samples"] == 8 * 1024
    assert (m["sample_rate"], m["channels"], m["profile"]) == (44100, 2, "LC")
    assert _sniff(d) == "audio/aac"
    meta = extract_metadata(d)
    assert meta["content_type"] == "audio/aac"
    assert meta["frame_count"] == "8" and meta["profile"] == "LC"
    assert meta["duration_ms"] == str(8 * 1024 * 1000 // 44100)
    # disjointness: each walk rejects the other's frames
    assert _mp3_frame_at(d, 0) is None
    assert _adts_frame_at(encode_mp3(3), 0) is None
    assert _sniff(encode_mp3(3)) == "audio/mpeg"
    # a lone sync-looking pair of bytes must not claim aac
    assert _sniff(b"\xff\xf1hello world this is text") != "audio/aac"


@given(st.binary(max_size=160))
@settings(max_examples=150, deadline=None)
def test_adts_parser_never_crashes_on_junk(junk):
    """adts_frames raises only ValueError on junk; the sniffer never
    raises (the extraction UDF runs on arbitrary ingested bytes)."""
    from dmshadoop_spark.dms.extract import _sniff
    from dmshadoop_spark.multimodal import adts_frames

    _sniff(junk)
    _sniff(b"\xff\xf1" + junk)
    try:
        adts_frames(b"\xff\xf1" + junk)
    except ValueError:
        pass


def test_sample_frames_routes_adts_real(spark):
    """sample_frames emits REAL AAC ADTS frame payloads with container
    timestamps (real=true), like the MPEG-audio branch."""
    from dmshadoop_spark.multimodal import encode_adts, sample_frames

    aac = encode_adts(10, 48000, 2)
    df = spark.createDataFrame(
        [("aac://1", bytearray(aac))], "path string, content binary"
    )
    rows = sample_frames(df, every_s=0.0001).orderBy("frame_idx").collect()
    assert all(r["real"] for r in rows)
    assert rows[0]["frame_idx"] == 0 and abs(rows[0]["ts_sec"]) < 1e-9
    assert bytes(rows[0]["frame"]) == aac[:27]
    assert abs(rows[1]["ts_sec"] - 1024 / 48000) < 1e-9


def test_restore_rolls_forward_to_old_snapshot(store):
    """restore(gen) commits a NEW generation identical to the old one —
    a deleted key reads back, diff(old, restored) is empty, history
    keeps every intermediate state, and no data was copied (inode
    sharing with the restored generation)."""
    import os

    store.upload("a.txt", b"v1")
    store.upload("b.txt", b"v2")
    g_before = store.history()[-1]
    assert store.delete("a.txt")
    assert store.download("a.txt") is None
    g_new = store.restore(g_before)
    assert store.history()[-1] == g_new
    assert store.download("a.txt") == b"v1"
    assert store.diff(g_before, g_new).count() == 0
    # pure metadata: every data file inode-shared with the restored gen
    src = store._gen_path(g_before)
    dst = store._gen_path(g_new)
    src_inodes = {
        os.stat(os.path.join(src, f)).st_ino
        for f in os.listdir(src)
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(src, f))
    }
    for f in os.listdir(dst):
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(dst, f)):
            assert os.stat(os.path.join(dst, f)).st_ino in src_inodes
    with pytest.raises(ValueError):
        store.restore(99)


def test_staging_debris_swept_on_next_commit(store):
    """Round-11 advice (store.py): leftover .staging-* dirs from crashed
    commits must not accumulate — every commit path sweeps them first."""
    import os

    store.upload("a.txt", b"v1")
    debris = os.path.join(store.base_dir, ".staging-deadbeefcafe")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-junk.parquet"), "wb") as f:
        f.write(b"\x00junk")
    store.upload("b.txt", b"v2")  # insert path sweeps
    assert not os.path.exists(debris)
    os.makedirs(debris)
    assert store.delete("a.txt")  # delete path sweeps too
    assert not os.path.exists(debris)
    os.makedirs(debris)
    store.compact()  # rewrite path sweeps too
    assert not os.path.exists(debris)
    assert store.download("b.txt") == b"v2"


def test_concurrent_commit_raises_instead_of_clobbering(store):
    """The single-writer contract is enforced: a writer holding a STALE
    view of the current generation loses the atomic rename-claim race
    and gets ConcurrentWriteError — the winner's generation is never
    interleaved with the loser's files, and the loser's staged commit
    survives for retry."""
    import os

    from dmshadoop_spark import generations
    from dmshadoop_spark.dms.store import ConcurrentWriteError

    store.upload("a.txt", b"v1")  # gen=0
    store.upload("a.txt", b"v2")  # writer A wins gen=1
    gen1 = store._gen_path(1)
    before = sorted(os.listdir(gen1))
    # writer B interleaved: it read gen=0 before A committed, so it
    # stages its own commit and tries to publish the SAME generation
    staging = generations.staging_path(store.base_dir)
    os.makedirs(staging)
    with open(os.path.join(staging, "part-b.parquet"), "wb") as f:
        f.write(b"\x00loser")
    with open(os.path.join(staging, "_SUCCESS"), "w"):
        pass
    with pytest.raises(ConcurrentWriteError):
        generations.publish(store.base_dir, staging, 1)
    assert sorted(os.listdir(gen1)) == before  # winner untouched
    assert os.path.exists(os.path.join(staging, "part-b.parquet"))  # retryable
    assert store.download("a.txt") == b"v2"


def test_delete_where_majority_multifile_tombstone_sidecar(spark, store):
    """A predicate matching the majority of keys of a store written in
    several data files commits its whole tombstone set as ONE part file,
    as every delete commit does, and the reads mask every key."""
    import os

    from pyspark.sql import functions as F

    docs = (
        spark.range(40)
        .select(
            F.concat(F.lit("doc-"), F.col("id")).alias("name"),
            F.encode(
                F.concat(F.lit("body-"), F.col("id")), "UTF-8"
            ).alias("content"),
        )
        .repartition(8)
    )
    store.bulk_ingest(docs)
    n = store.delete_where(F.col("name") != "doc-0")
    assert n == 39
    tdir = store._tombstone_dir(store.history()[-1])
    parts = [
        f for f in os.listdir(tdir) if not f.startswith(("_", "."))
    ]
    assert len(parts) == 1
    assert _names(store) == ["doc-0"]
    lay = store.layout()
    assert lay["tombstone_rows"] == 39
    assert lay["data_files"] == lay["data_files_shared_with_prev"] > 0


def test_tombstone_sidecar_holds_one_store_written_part_per_delete_commit(
    store,
):
    """After every commit of uploads, delete, delete_where and compact,
    ``_tombstones/`` holds only ``part-*.parquet`` files, one per delete
    commit since the last compaction, each readable with the store's
    tombstone schema, whose rows are exactly the tombstoned keys."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dmshadoop_spark.dms.store import _ARROW_TOMBSTONE_SCHEMA

    def check(commits: list[set]) -> None:
        tdir = store._tombstone_dir(store.history()[-1])
        files = sorted(os.listdir(tdir)) if os.path.isdir(tdir) else []
        assert all(f.startswith("part-") and f.endswith(".parquet") for f in files)
        assert len(files) == len(commits)
        parts = [
            pq.read_table(os.path.join(tdir, f), schema=_ARROW_TOMBSTONE_SCHEMA)
            for f in files
        ]
        got = sorted(tuple(r.values()) for p in parts for r in p.to_pylist())
        assert got == sorted(k for c in commits for k in c)
        assert sorted(map(len, commits)) == sorted(p.num_rows for p in parts)

    for i in range(4):
        store.upload(f"a{i}.txt", b"alpha")
        store.upload(f"a{i}.txt", b"alpha again")
        store.upload(f"b{i}.txt", b"beta")
    commits: list[set] = []
    check(commits)
    assert store.delete("a0.txt")
    commits.append({("a0.txt", 2)})
    check(commits)
    assert store.delete_where(F.col("name").startswith("b")) == 4
    commits.append({(f"b{i}.txt", 1) for i in range(4)})
    check(commits)
    assert store.delete_where("version = 1 AND name <> 'a0.txt'") == 3
    commits.append({(f"a{i}.txt", 1) for i in range(1, 4)})
    check(commits)
    assert store.delete_where("name = 'nothing'") == 0
    check(commits)
    store.compact()
    commits = []
    check(commits)
    assert store.delete_all_version("a0.txt")
    commits.append({("a0.txt", 1)})
    check(commits)
    assert store.delete_where("length > 5") == 3
    commits.append({(f"a{i}.txt", 2) for i in range(1, 4)})
    check(commits)
    assert _names(store) == []


def test_id3_tagged_adts_sniffs_as_aac_with_metadata():
    """Round-11 advice (extract.py:81): an ID3v2-prefixed ADTS stream is
    audio/aac, not audio/mpeg — the sniffer peeks past the syncsafe tag
    size and applies the ADTS-vs-MPEG discrimination there, so tagged
    crawl audio keeps its AAC stream facts AND its ID3 text tags."""
    from dmshadoop_spark.dms.extract import _sniff, extract_metadata
    from dmshadoop_spark.multimodal import encode_adts, encode_mp3
    from dmshadoop_spark.multimodal.containers import encode_id3v2

    aac = encode_id3v2(
        encode_adts(8, 44100, 2, profile=1), title="Song", artist="Band"
    )
    assert _sniff(aac) == "audio/aac"
    meta = extract_metadata(aac)
    assert meta["content_type"] == "audio/aac"
    assert meta["frame_count"] == "8" and meta["profile"] == "LC"
    assert meta["id3_title"] == "Song" and meta["id3_artist"] == "Band"
    # ID3-tagged MPEG audio still routes to audio/mpeg
    mp3 = encode_id3v2(encode_mp3(3), title="Other")
    assert _sniff(mp3) == "audio/mpeg"
    assert extract_metadata(mp3)["id3_title"] == "Other"
    # a tag whose audio lies beyond the fetched prefix stays audio/mpeg
    assert _sniff(b"ID3" + bytes(20)) == "audio/mpeg"
    # truncated mid-tag: still the tagged-stream default, never a raise
    assert _sniff(encode_id3v2(b"", title="T")[:7]) == "audio/mpeg"


def test_vbr_header_reads_bounded_by_first_frame():
    """Round-11 advice (containers.py:178): Xing field reads must stop at
    the first frame's end — a truncated metadata frame followed by other
    bytes must not report values read from the NEXT frame's bytes."""
    from dmshadoop_spark.multimodal import encode_mp3_vbr, parse_vbr_header
    from dmshadoop_spark.multimodal.containers import mp3_frames

    data = encode_mp3_vbr([96, 128, 160], 44100)
    v = parse_vbr_header(data)
    assert v["frames"] == 3 and v["bytes"] == len(data)
    # craft a 32 kbps first frame (104 bytes): the Xing tag at offset 36
    # declares frames+bytes+TOC+quality, but 4+32+8+8+100 = 152 > 104, so
    # the TOC overruns the frame and the quality field lands INSIDE the
    # second frame's bytes — it must come back None, not frame-2 data
    from dmshadoop_spark.multimodal.containers import (
        _mp3_frame_shell,
        _xing_offset,
    )

    head = _mp3_frame_shell(32, 44100)
    p = _xing_offset(bytes(head), 0)
    head[p : p + 4] = b"Xing"
    head[p + 4 : p + 8] = (0xF).to_bytes(4, "big")  # all four fields
    head[p + 8 : p + 12] = (7).to_bytes(4, "big")   # frames
    head[p + 12 : p + 16] = (999).to_bytes(4, "big")  # bytes
    malformed = bytes(head) + encode_mp3_vbr([96], 44100)
    frames = mp3_frames(malformed)
    assert frames[0]["length"] == len(head)  # walk sees the short frame
    w = parse_vbr_header(malformed)
    assert w["frames"] == 7 and w["bytes"] == 999  # in-frame fields kept
    assert w["quality"] is None  # beyond the frame end: never misread
    assert w["encoder"] is None


# --------------------------------------------------------------------------
# driver path: point calls read and commit through Arrow, no Spark job
# --------------------------------------------------------------------------


def _jobs_started(spark, call):
    """Run ``call`` under its own Spark job group; return its result and
    the ids of the jobs it started (the listener bus is drained first, so
    a job that ran is never missed)."""
    import uuid

    sc = spark.sparkContext
    group = f"dms-point-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "point call")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _mixed_store(spark, store):
    """A store whose current generation holds Spark-written rows (a bulk
    ingest and a clustered compaction), Arrow-written rows and a
    tombstone sidecar."""
    batch = spark.createDataFrame(
        [(f"doc-{i}.txt", f"body {i}".encode()) for i in range(8)],
        "name string, content binary",
    )
    store.bulk_ingest(batch)
    store.upload("doc-1.txt", b"body 1 v2")
    store.compact(2, cluster_by=["name"])
    store.upload("doc-2.txt", b"body 2 v2")
    store.delete("doc-3.txt")


def test_point_ops_run_no_spark_job(spark, store):
    """Calls keyed on one name (download, meta, versions, upload, delete),
    search (keyed on its query's terms) and layout() run on the driver:
    their job group sees zero Spark jobs, over Spark-written,
    Arrow-written and tombstoned rows alike, and so does collecting the
    search answer. An upload adds exactly one data file. compact and
    update rewrite on the driver at every size, so they start no job
    either."""
    import pyarrow.parquet as pq

    _mixed_store(spark, store)
    files_before = store.layout()["data_files"]
    calls = {
        "download": lambda: store.download("doc-1.txt"),
        "download_version": lambda: store.download("doc-1.txt", 1),
        "get_file_meta_data": lambda: store.get_file_meta_data("doc-2.txt"),
        "get_file_version": lambda: store.get_file_version("doc-1.txt"),
        "get_lastest_version": lambda: store.get_lastest_version("doc-3.txt"),
        "upload": lambda: store.upload("doc-3.txt", b"body 3 v2"),
        "delete": lambda: store.delete("doc-4.txt"),
        "delete_all_version": lambda: store.delete_all_version("doc-5.txt"),
        "search": lambda: [tuple(r) for r in store.search("BODY 1").collect()],
        "layout": store.layout,
    }
    got = {}
    for op, call in calls.items():
        got[op], jobs = _jobs_started(spark, call)
        assert jobs == [], f"{op} started Spark jobs {jobs}"
    assert got["download"] == b"body 1 v2"
    assert got["download_version"] == b"body 1"
    assert got["get_file_meta_data"]["length"] == str(len(b"body 2 v2"))
    assert got["get_file_version"] == [1, 2]
    assert got["get_lastest_version"] is None
    assert got["upload"] == 2  # version 1 of doc-3 is tombstoned
    assert got["delete"] is True and got["delete_all_version"] is True
    assert got["layout"]["tombstone_rows"] == 3
    assert got["layout"]["data_files"] == files_before + 1
    assert got["layout"]["generations"] == len(store.history())
    assert got["search"] == [
        ("doc-1.txt", 1, 2),
        ("doc-1.txt", 2, 2),
        ("doc-0.txt", 1, 1),
        ("doc-2.txt", 1, 1),
        ("doc-2.txt", 2, 1),
        ("doc-3.txt", 2, 1),
        ("doc-6.txt", 1, 1),
        ("doc-7.txt", 1, 1),
    ]
    # every data file has its twin; postings of tombstoned rows stay on
    # disk until compact(): eight "body i" rows, three "body i v2" rows
    assert got["layout"]["postings_files"] == got["layout"]["data_files"]
    assert got["layout"]["postings_rows"] == 8 * 2 + 3 * 3
    assert got["layout"]["data_row_groups"] == sum(
        pq.ParquetFile(f).metadata.num_row_groups
        for f in store._data_files(store.history()[-1])
    )
    rewrites = {
        "compact": lambda: store.compact(cluster_by=["name"]),
        "update": lambda: store.update("doc-6.txt", b"body 6 new"),
    }
    for op, call in rewrites.items():
        got[op], jobs = _jobs_started(spark, call)
        assert jobs == [], f"{op} started Spark jobs {jobs}"
    assert got["update"] is True
    assert store.layout()["tombstone_rows"] == 0
    assert store.download("doc-6.txt") == b"body 6 new"
    assert [tuple(r) for r in store.search("new").collect()] == [
        ("doc-6.txt", 1, 1)
    ]
    # control: a scan-shaped call in the same harness does start jobs
    _, jobs = _jobs_started(spark, lambda: store.df().count())
    assert jobs


def test_arrow_upload_reads_back_through_spark(spark, store):
    """A driver-written upload reads back through df() with exactly
    DOCUMENT_SCHEMA, and its modification_time (TIMESTAMP_NTZ, UTC wall
    clock) is not shifted by a non-UTC session time zone."""
    import datetime

    from dmshadoop_spark.dms.store import DOCUMENT_SCHEMA

    def utc_now():
        now = datetime.datetime.now(datetime.timezone.utc)
        return now.replace(tzinfo=None)

    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        t0 = utc_now()
        assert store.upload("t.txt", b"hello arrow", {"k": "v"}) == 1
        t1 = utc_now()
        df = store.df()
        assert df.schema == DOCUMENT_SCHEMA
        (row,) = df.collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    assert (row["name"], row["version"]) == ("t.txt", 1)
    assert bytes(row["content"]) == b"hello arrow"
    assert row["length"] == 11
    assert row["content_hash"] == row["meta"]["sha256"]
    assert row["meta"]["k"] == "v"
    assert row["meta"] == store.get_file_meta_data("t.txt")
    assert t0 <= row["modification_time"] <= t1


def test_compact_diff_empty_over_arrow_written_rows(spark, store):
    """compact() rewrites Arrow-written rows (and the Spark-written ones
    beside them) without changing one: diff(before, after) is empty, for
    a plain and a clustered compaction."""
    _mixed_store(spark, store)
    for i in range(4):
        store.upload(f"new-{i}.txt", f"fresh {i}".encode())
    before = store.history()[-1]
    n = store.df().count()
    after = store.compact()
    assert store.diff(before, after).count() == 0
    clustered = store.compact(3, cluster_by=["name"])
    assert store.diff(before, clustered).count() == 0
    assert store.df().count() == n


_NAMES = ("a.txt", "b.txt", "a.txt.1")

_store_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("upload"),
            st.sampled_from(_NAMES),
            st.binary(min_size=0, max_size=24),
        ),
        st.tuples(
            st.just("delete"),
            st.sampled_from(_NAMES),
            st.none() | st.integers(min_value=1, max_value=4),
        ),
        st.tuples(st.just("delete_all_version"), st.sampled_from(_NAMES)),
        # (clustered)
        st.tuples(st.just("compact"), st.booleans()),
    ),
    min_size=1,
    max_size=10,
)


def _spark_answers(store, gen):
    """Per name: {version: (content, meta)} of the live rows and the
    tombstoned versions of generation ``gen``, computed in Spark."""
    live: dict[str, dict] = {}
    for r in store.df(gen).select("name", "version", "content", "meta").collect():
        live.setdefault(r["name"], {})[r["version"]] = (
            bytes(r["content"]),
            dict(r["meta"]),
        )
    dead: dict[str, set] = {}
    tombs = store._tombstones(gen)
    if tombs is not None:
        for r in tombs.collect():
            dead.setdefault(r["name"], set()).add(r["version"])
    return live, dead


@settings(max_examples=12, deadline=None)
@given(ops=_store_ops)
def test_driver_path_matches_spark_df(spark, tmp_path_factory, ops):
    """For random upload / delete / delete_all_version / compact
    sequences, every driver-path answer — latest and explicit-version
    reads, version listings, the tombstone-aware next version, and the
    same reads against an older generation — equals the answer computed
    from df() in Spark."""
    store = DocumentStore(spark, str(tmp_path_factory.mktemp("dms_drv")))
    for op in ops:
        if op[0] == "upload":
            store.upload(op[1], op[2])
        elif op[0] == "delete":
            store.delete(op[1], op[2])
        elif op[0] == "delete_all_version":
            store.delete_all_version(op[1])
        else:
            store.compact(cluster_by=["name"] if op[1] else None)
    gens = store.history()
    if not gens:
        for name in _NAMES:
            assert store.download(name) is None
            assert store.get_file_version(name) == []
        return
    for gen in sorted({gens[-1], gens[len(gens) // 2]}):
        live, dead = _spark_answers(store, gen)
        for name in (*_NAMES, "missing.txt"):
            want = live.get(name, {})
            rows, tomb = store._rows(name, ("content", "meta"), gen)
            assert tomb == dead.get(name, set())
            assert {
                r["version"]: (r["content"], dict(r["meta"])) for r in rows
            } == want
            if gen != gens[-1]:
                continue
            latest = max(want, default=None)
            assert store.get_file_version(name) == sorted(want)
            assert store.get_lastest_version(name) == latest
            assert store.download(name) == (
                None if latest is None else want[latest][0]
            )
            assert store.get_file_meta_data(name) == (
                None if latest is None else want[latest][1]
            )
            for v in range(0, max([*want, *tomb], default=0) + 2):
                assert store.download(name, v) == (
                    want[v][0] if v in want else None
                )
                assert store.get_file_meta_data(name, v) == (
                    want[v][1] if v in want else None
                )
            assert store._max_version_any(name) == max(
                [*want, *dead.get(name, ())], default=0
            )


# --------------------------------------------------------------------------
# search reads the postings twins
# --------------------------------------------------------------------------

# Words and separators on which Python's str.lower/str.split agree with
# Arrow's utf8_lower/utf8_split_whitespace, so a Python recompute can
# stand for the store's tokenizer. The separators go beyond ASCII: a
# no-break space, an em space and an ideographic space separate tokens.
_WORDS = ("alpha", "Beta", "GAMMA", "dElTa", "Élan", "жук")
_SEPS = (" ", "\t", "\n", "\u00a0", "\u2003", "\u3000")

_texts = st.lists(
    st.tuples(st.sampled_from(_SEPS), st.sampled_from(_WORDS)), max_size=6
).map(lambda parts: "".join(s + w for s, w in parts).encode())
_contents = st.one_of(_texts, st.binary(max_size=12))

_text_uploads = st.lists(
    st.tuples(st.just("upload"), st.sampled_from(_NAMES), _texts),
    min_size=1,
    max_size=3,
)
_search_ops = st.lists(
    st.one_of(
        st.tuples(st.just("upload"), st.sampled_from(_NAMES), _contents),
        st.tuples(
            st.just("delete"),
            st.sampled_from(_NAMES),
            st.none() | st.integers(min_value=1, max_value=3),
        ),
        st.tuples(st.just("delete_all_version"), st.sampled_from(_NAMES)),
        st.tuples(
            st.just("delete_where"),
            st.sampled_from(
                ("name = 'a.txt'", "length > 20", "length < 5", "version = 1")
            ),
        ),
        st.tuples(st.just("update"), st.sampled_from(_NAMES), _texts),
        # (clustered)
        st.tuples(st.just("compact"), st.booleans()),
        st.tuples(st.just("restore"), st.integers(min_value=0, max_value=9)),
        st.tuples(st.just("delete_all")),
    ),
    max_size=6,
)


def _search_recompute(store, query, k):
    """``search``'s answer recomputed in plain Python from the live rows of
    ``df()``: per text/plain document, how many of its lowercased
    whitespace tokens equal a lowercased query term; top ``k`` by (score
    desc, name, version)."""
    terms = set(query.lower().split())
    hits = []
    for r in store.df().select("name", "version", "content", "meta").collect():
        if r["meta"].get("content_type") != "text/plain":
            continue
        tokens = bytes(r["content"]).decode("utf-8", "replace").lower().split()
        score = sum(1 for t in tokens if t in terms)
        if score:
            hits.append((-score, r["name"], r["version"]))
    return [(n, v, -s) for s, n, v in sorted(hits)[:k]]


@settings(max_examples=10, deadline=None)
@example(
    uploads=[("upload", "a.txt", "Alpha\u00a0beta\u3000BETA".encode())],
    ops=[],
    queries=[(["beta"], 2)],
)
@example(
    uploads=[
        ("upload", "a.txt", b" beta beta"),
        ("upload", "b.txt", b" beta"),
    ],
    ops=[("delete", "a.txt", None)],
    queries=[(["beta"], 2)],
)
@given(
    uploads=_text_uploads,
    ops=_search_ops,
    queries=st.lists(
        st.tuples(
            st.lists(st.sampled_from(_WORDS + ("ALPHA", "élan", "none")),
                     min_size=1, max_size=3),
            st.integers(min_value=1, max_value=4),
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_search_matches_python_recompute(
    spark, tmp_path_factory, uploads, ops, queries
):
    """For random sequences of every write the store has — uploads of
    text (mixed case, Unicode whitespace) and binary content, delete,
    delete_all_version, delete_where, update, compact (clustered or
    not), restore and delete_all — after some text
    uploads, search after each step equals a Python recompute over the
    live rows."""
    store = DocumentStore(spark, str(tmp_path_factory.mktemp("dms_search")))
    for op in uploads + ops:
        kind = op[0]
        if kind == "upload":
            store.upload(op[1], op[2])
        elif kind == "delete":
            store.delete(op[1], op[2])
        elif kind == "delete_all_version":
            store.delete_all_version(op[1])
        elif kind == "delete_where":
            store.delete_where(op[1])
        elif kind == "update":
            store.update(op[1], op[2])
        elif kind == "compact":
            store.compact(cluster_by=["name"] if op[1] else None)
        elif kind == "restore":
            if store.history():
                store.restore(store.history()[op[1] % len(store.history())])
        else:
            store.delete_all()
        for words, k in queries:
            query = "\u3000".join(words)
            got = [tuple(r) for r in store.search(query, k).collect()]
            assert got == _search_recompute(store, query, k), (op, query)


def test_search_after_compaction_reuses_a_version(store):
    """upload ×2, delete, compact, upload: the last upload gets version 2
    again (compaction folds the tombstone that remembered it). search
    must score the new v2's content; the deleted v2's postings must not
    come back with the reused key."""
    assert store.upload("a.txt", b"first draft") == 1
    assert store.upload("a.txt", b"secret secret plan") == 2
    assert store.delete("a.txt")
    store.compact()
    assert store.upload("a.txt", b"fresh fresh fresh text") == 2
    assert store.search("secret plan").collect() == []
    assert [tuple(r) for r in store.search("fresh draft").collect()] == [
        ("a.txt", 2, 3),
        ("a.txt", 1, 1),
    ]


def test_unreported_task_attempt_files_are_never_published(
    spark, store, monkeypatch
):
    """A task attempt that wrote files but whose report Spark discarded
    (a failed, retried or duplicate attempt) must publish nothing: the
    commit moves only the reported files out of the per-attempt
    directories and removes the rest. Only bulk_ingest writes in tasks;
    compact and update, which write on the driver, plant nothing."""
    import os

    import pyarrow as pa

    from dmshadoop_spark.dms import store as store_mod

    stray = pa.Table.from_pylist(
        [store_mod._make_row("ghost.txt", 1, b"ghost words", None)],
        schema=store_mod._ARROW_DOCUMENT_SCHEMA,
    )
    planted = []
    place = store_mod._place_reported

    def place_after_a_lost_attempt(staging, reports):
        lost = os.path.join(staging, store_mod._ATTEMPTS_DIR, "lost-attempt")
        planted.append(store_mod._write_docs(stray, lost)[0])
        place(staging, reports)

    monkeypatch.setattr(store_mod, "_place_reported", place_after_a_lost_attempt)
    batch = spark.createDataFrame(
        [(f"doc-{i}.txt", f"words {i}".encode()) for i in range(6)],
        "name string, content binary",
    )
    assert store.bulk_ingest(batch) == 6
    store.compact(2)
    assert store.update("doc-1.txt", b"new words")
    assert len(planted) == 1
    for gen in store.history():
        published = [
            fn
            for _root, _dirs, files in os.walk(store._gen_path(gen))
            for fn in files
        ]
        assert not set(planted) & set(published), gen
        assert not os.path.exists(
            os.path.join(store._gen_path(gen), store_mod._ATTEMPTS_DIR)
        )
    assert store.get_file_version("ghost.txt") == []
    assert store.search("ghost").collect() == []
    assert store.df().count() == 6
    lay = store.layout()
    assert lay["postings_files"] == lay["data_files"]
    assert lay["postings_rows"] == 12


def test_search_raises_on_data_file_without_postings_twin(store):
    """A data file with no postings twin (a generation written before
    twins existed) makes search raise rather than answer from part of the
    store; compact() rewrites the generation with twins."""
    import os

    import pytest as _pytest

    store.upload("a.txt", b"kept words")
    store.upload("b.txt", b"lost words")
    gen_dir = store._gen_path(store.history()[-1])
    postings = os.path.join(gen_dir, "_postings")
    os.remove(os.path.join(postings, sorted(os.listdir(postings))[0]))
    with _pytest.raises(RuntimeError, match="postings twin"):
        store.search("words")
    store.compact()
    assert [tuple(r) for r in store.search("words").collect()] == [
        ("a.txt", 1, 1),
        ("b.txt", 1, 1),
    ]


def test_search_lowercases_content_and_query_alike(store):
    """Content and query go through one tokenizer: an upload of
    "İSTANBUL" is found by the query "İstanbul" (Python's str.lower would
    give the query a combining dot that Arrow's lowercasing of the
    content does not have)."""
    store.upload("city.txt", "İSTANBUL".encode())
    assert [tuple(r) for r in store.search("İstanbul").collect()] == [
        ("city.txt", 1, 1)
    ]


def test_store_tokenizer_differs_from_the_oracle_tokenizer(spark):
    """Two tokenizers, two contracts: functions.text.tokenize splits on a
    single space, as DuckDB's string_split does (a double space gives an
    empty token, case is kept); the store lowercases and splits on runs of
    any Unicode whitespace, dropping empty tokens."""
    import pyarrow as pa

    from dmshadoop_spark.dms.store import _terms
    from dmshadoop_spark.functions.text import tokenize

    (row,) = (
        spark.createDataFrame([("A b  c",)], "t string")
        .select(tokenize("t").alias("tokens"))
        .collect()
    )
    assert row["tokens"] == ["A", "b", "", "c"]
    (terms,) = _terms(pa.array(["A b  c"])).to_pylist()
    assert [t for t in terms if t] == terms == ["a", "b", "c"]


def test_tokenizer_ignores_the_bytes_after_a_string(monkeypatch):
    """A text that ends in whitespace gives the same terms whatever bytes
    follow it in its buffer. The lowercased copy that is split is a new
    buffer, followed by whatever memory it was given, and pyarrow 16's
    split kept the trailing whitespace in the last token when a non-ASCII
    byte came next ("ab " gave ["ab "]). The texts here are lowercase,
    and lowercasing is patched to pass each crafted buffer through, so
    the bytes after it are the ones the split sees."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from dmshadoop_spark.dms.store import _terms

    monkeypatch.setattr(pc, "utf8_lower", lambda texts: texts)
    for text in ["ab ", "ab\u00a0", "word m0 \u2003", "a b\n", " "]:
        data = text.encode()
        offsets = np.array([0, len(data)], np.int32).tobytes()
        for tail in (b"", b"\x80\x80", b"\xc2\x00", b"\xe2\x41", b"\xff\xff"):
            texts = pa.Array.from_buffers(
                pa.string(), 1, [None, pa.py_buffer(offsets), pa.py_buffer(data + tail)]
            )
            (terms,) = _terms(texts).to_pylist()
            assert [t for t in terms if t] == text.split(), (text, tail)


def test_search_indexes_invalid_utf8_labelled_text(store):
    """Content that is not valid UTF-8 but labelled text/plain through
    extra_meta is indexed with U+FFFD in place of the bad bytes (as
    Spark's binary-to-string cast reads it) instead of failing the
    write."""
    store.upload("odd.txt", b"\xff\xfe Mixed mixed", {"content_type": "text/plain"})
    assert [tuple(r) for r in store.search("MIXED").collect()] == [
        ("odd.txt", 1, 2)
    ]


def _every_column(store):
    """Every column of every live row of the current generation, as
    sorted comparable tuples."""
    return sorted(
        (r["name"], r["version"], bytes(r["content"]), r["content_hash"],
         r["length"], r["modification_time"], sorted(r["meta"].items()))
        for r in store.df().collect()
    )


def test_task_rewrites_keep_every_column_under_session_tz(spark, store):
    """bulk_ingest writes rows inside mapInArrow tasks, compact rewrites
    them on the driver, and update then rewrites one of the files compact
    wrote: every column of every untouched row, modification_time
    (TIMESTAMP_NTZ) included, comes back unchanged under a non-UTC
    session time zone."""
    batch = spark.createDataFrame(
        [(f"doc-{i}.txt", f"body {i}".encode()) for i in range(5)],
        "name string, content binary",
    )
    store.bulk_ingest(batch)
    store.upload("doc-1.txt", b"body 1 v2", {"k": "v"})
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        before = _every_column(store)
        store.compact(2, cluster_by=["name"])
        assert _every_column(store) == before
        assert store.update("doc-3.txt", b"body 3 new")
        after = _every_column(store)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    assert [r for r in after if r[0] != "doc-3.txt"] == [
        r for r in before if r[0] != "doc-3.txt"
    ]


def _twins_match_rows(store):
    """Assert that every data file of the current generation has a
    postings twin equal to the postings recomputed from its rows, and
    return the files' sorted (min, max) name ranges."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from dmshadoop_spark.dms import store as store_mod

    ranges = []
    for f in store._data_files(store.history()[-1]):
        rows = pq.read_table(f, schema=store_mod._ARROW_DOCUMENT_SCHEMA)
        twin = pq.read_table(
            store_mod._twin(f), schema=store_mod._ARROW_POSTINGS_SCHEMA
        )
        assert twin.equals(store_mod._postings_of(rows)), f
        names = rows.column("name")
        ranges.append((pc.min(names).as_py(), pc.max(names).as_py()))
    return sorted(ranges)


@pytest.mark.parametrize(
    "writer", ["spark", "driver"], ids=["spark_path", "driver_path"]
)
def test_rewrite_paths_give_the_same_rows_and_postings(spark, store, writer):
    """compact(), compact(4, cluster_by=["name"]), compact(2) and update
    keep the rows, whether the files they rewrite were written by Spark
    write tasks (bulk_ingest) or on the driver (upload): every column,
    modification_time under a non-UTC session time zone included, equals
    the rows before the rewrite (for update, all but the replaced row).
    Every data file's postings twin equals the postings of its rows, and
    clustered files cover disjoint name ranges."""
    import datetime

    def write(docs):
        if writer == "spark":
            store.bulk_ingest(
                spark.createDataFrame(docs, "name string, content binary")
            )
        else:
            for name, content in docs:
                store.upload(name, content)

    write([(f"doc-{i}.txt", f"body {i}".encode()) for i in range(8)])
    write(
        [("doc-1.txt", b"body 1 v2")]
        + [(f"new-{i}.txt", f"fresh words {i}".encode()) for i in range(3)]
    )
    store.delete("doc-3.txt")
    store.delete("doc-0.txt")
    assert store.layout()["tombstone_rows"] >= 2
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        before = _every_column(store)
        for target_files, cluster_by in ((1, None), (4, ["name"]), (2, None)):
            store.compact(target_files, cluster_by=cluster_by)
            assert _every_column(store) == before
            ranges = _twins_match_rows(store)
            assert 1 <= len(ranges) <= target_files
            if cluster_by:
                assert len(ranges) >= 2
                for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
                    assert hi < lo
        assert store.layout()["tombstone_rows"] == 0
        t0 = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        assert store.update("doc-2.txt", b"body 2 rewritten", version=1)
        t1 = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        after = _every_column(store)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    key = ("doc-2.txt", 1)
    assert [r for r in after if r[:2] != key] == [
        r for r in before if r[:2] != key
    ]
    (new,) = [r for r in after if r[:2] == key]
    assert new[2:5] == (
        b"body 2 rewritten",
        dict(new[6])["sha256"],
        len(b"body 2 rewritten"),
    )
    assert t0 <= new[5] <= t1
    _twins_match_rows(store)


def test_update_rewrites_only_the_file_that_holds_the_row(spark, store):
    """On a multi-file store with tombstones, update is a copy-on-write of
    the one data file that holds the row: no Spark job; every other data file shared with the previous
    generation; the tombstones kept; the new file's rows in the old
    file's order with its twin equal to their postings; and diff showing
    exactly the one update."""
    import os

    import pyarrow.parquet as pq

    _mixed_store(spark, store)
    store.delete("doc-5.txt")
    prev = store.history()[-1]
    lay = store.layout()
    assert lay["data_files"] >= 3 and lay["tombstone_rows"] == 2
    rows_before = _every_column(store)
    done, jobs = _jobs_started(
        spark, lambda: store.update("doc-6.txt", b"body 6 new")
    )
    assert done is True and jobs == []
    cur = store.history()[-1]
    after = store.layout()
    assert after["data_files"] == lay["data_files"]
    assert after["data_files_shared_with_prev"] == lay["data_files"] - 1
    assert after["tombstone_files"] == lay["tombstone_files"]
    assert after["tombstone_rows"] == lay["tombstone_rows"]
    _twins_match_rows(store)
    (old,) = set(map(os.path.basename, store._data_files(prev))) - set(
        map(os.path.basename, store._data_files(cur))
    )
    (new,) = set(map(os.path.basename, store._data_files(cur))) - set(
        map(os.path.basename, store._data_files(prev))
    )

    def keys(gen, fn):
        path = os.path.join(store._gen_path(gen), fn)
        return pq.read_table(path, columns=["name", "version"]).to_pylist()

    assert keys(cur, new) == keys(prev, old)
    assert {tuple(r) for r in store.diff(prev, cur).collect()} == {
        ("update", "doc-6.txt", 1)
    }
    assert [r for r in _every_column(store) if r[0] != "doc-6.txt"] == [
        r for r in rows_before if r[0] != "doc-6.txt"
    ]
    assert store.download("doc-6.txt") == b"body 6 new"
    assert [tuple(r) for r in store.search("new").collect()] == [
        ("doc-6.txt", 1, 1)
    ]


def test_update_gives_a_file_without_postings_twin_its_twin(store):
    """update of a row whose data file has no postings twin writes that
    file again with a twin, tokenized from its rows, after which search
    answers from twins again."""
    import os

    import pyarrow.parquet as pq

    from dmshadoop_spark.dms import store as store_mod

    store.upload("a.txt", b"kept words")
    store.upload("b.txt", b"lost words")
    gen = store.history()[-1]
    postings = os.path.join(store._gen_path(gen), "_postings")
    os.remove(os.path.join(postings, sorted(os.listdir(postings))[0]))
    with pytest.raises(RuntimeError, match="postings twin"):
        store.search("words")
    (bare,) = [
        f for f in store._data_files(gen)
        if not os.path.isfile(store_mod._twin(f))
    ]
    (name,) = pq.read_table(bare, columns=["name"]).column("name").to_pylist()
    assert store.update(name, b"found words again")
    _twins_match_rows(store)
    assert [tuple(r) for r in store.search("words").collect()] == [
        ("a.txt", 1, 1),
        ("b.txt", 1, 1),
    ]
    assert [tuple(r) for r in store.search("again").collect()] == [
        (name, 1, 1)
    ]


def test_update_streams_a_file_of_several_row_groups(
    spark, store, monkeypatch
):
    """update rewrites a data file of uneven row groups one row group at a
    time, never reading a whole file: the new file has the old one's rows
    in the old order and the old row-group sizes, and its twin (of
    several row groups, the replacement's terms landing in different
    ones) equals the postings of its rows with no row group over the
    bound."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dmshadoop_spark.dms import store as store_mod

    monkeypatch.setattr(store_mod, "_POSTINGS_ROW_GROUP", 5)
    for i in range(12):
        store.upload(f"doc-{i:02}.txt", f"word{i} common m{i % 3}".encode())
    rows = store.df().orderBy("name").toArrow()
    rows = pa.Table.from_batches(rows.to_batches(), rows.schema)
    groups = [rows.slice(0, 5), rows.slice(5, 3), rows.slice(8)]
    store._commit(
        lambda staging: store_mod._write_docs(
            [g.combine_chunks().to_batches()[0] for g in groups], staging
        ),
        None,
    )
    (path,) = store._data_files(store.history()[-1])

    def sizes(f):
        md = pq.ParquetFile(f).metadata
        return [md.row_group(i).num_rows for i in range(md.num_row_groups)]

    assert sizes(path) == [5, 3, 4]
    assert len(sizes(store_mod._twin(path))) > 3
    before = _every_column(store)

    def whole_file(*args, **kwargs):
        raise AssertionError("update read a whole file")

    with monkeypatch.context() as m:
        m.setattr(pq, "read_table", whole_file)
        done, jobs = _jobs_started(
            spark,
            lambda: store.update("doc-06.txt", b"aaa common m0 zzz word6x"),
        )
    assert done is True and jobs == []
    (new,) = store._data_files(store.history()[-1])
    assert sizes(new) == [5, 3, 4]
    assert pq.read_table(new, columns=["name"]).column(
        "name"
    ).to_pylist() == [f"doc-{i:02}.txt" for i in range(12)]
    assert [r for r in _every_column(store) if r[0] != "doc-06.txt"] == [
        r for r in before if r[0] != "doc-06.txt"
    ]
    assert store.download("doc-06.txt") == b"aaa common m0 zzz word6x"
    _twins_match_rows(store)
    assert max(sizes(store_mod._twin(new))) <= 5
    assert [tuple(r) for r in store.search("zzz aaa").collect()] == [
        ("doc-06.txt", 1, 2)
    ]
    assert store.search("word6").count() == 0


def test_compact_over_32_mib_decoded_starts_no_spark_job(spark, store):
    """compact of a store that takes over 32 MiB once decoded (one 64 KiB
    content under 520 names: a few KiB on disk, dictionary-encoded, but
    over 32 MiB in Arrow) starts no Spark job, keeps every column of every
    live row, folds the tombstone and clusters the rows into files of
    disjoint name ranges whose twins equal the postings of their rows."""
    import os

    import pyarrow.parquet as pq

    content = bytes(range(256)) * 256  # 64 KiB
    store.bulk_ingest(
        spark.createDataFrame(
            [(f"dup-{i:03}.bin", content) for i in range(520)],
            "name string, content binary",
        )
    )
    store.upload("note.txt", b"a small text note")
    store.delete("dup-007.bin")
    files = store._data_files(store.history()[-1])
    decoded = sum(
        sum(pq.read_table(f, columns=["length"]).column(0).to_pylist())
        for f in files
    )
    assert decoded > 32 * 2**20
    assert 8 * sum(map(os.path.getsize, files)) < decoded
    before = _every_column(store)
    _, jobs = _jobs_started(spark, lambda: store.compact(2, cluster_by=["name"]))
    assert jobs == []
    assert _every_column(store) == before
    assert len(before) == 520
    assert store.layout()["tombstone_rows"] == 0
    (lo_file, hi_file) = _twins_match_rows(store)
    assert lo_file[1] < hi_file[0]
    assert [tuple(r) for r in store.search("note").collect()] == [
        ("note.txt", 1, 1)
    ]


def _unordered_store(store, n, row_group, repeat=1):
    """Replace the store's content with one generation of one data file
    of ``n`` text documents (``repeat`` copies of an 18-byte line each) in
    shuffled name order, written in row groups of ``row_group`` rows, and
    return that file's path."""
    import random

    import pyarrow as pa

    from dmshadoop_spark.dms import store as store_mod

    order = random.Random(5).sample(range(n), n)
    rows = pa.Table.from_pylist(
        [
            store_mod._make_row(
                f"doc-{i:03}.txt",
                1,
                f"word{i:03} common m{i % 3} ".encode() * repeat,
                None,
            )
            for i in order
        ],
        schema=store_mod._ARROW_DOCUMENT_SCHEMA,
    )
    store._commit(
        lambda staging: store_mod._write_docs(
            rows.to_batches(max_chunksize=row_group), staging
        ),
        None,
    )
    (path,) = store._data_files(store.history()[-1])
    return path


@pytest.mark.parametrize(
    "target_files, cluster_by, slices",
    [(1, None, [159]), (1, ["name"], [159]), (4, ["name"], [39, 40, 40, 40])],
    ids=["one_file", "one_clustered_file", "four_clustered_files"],
)
def test_compact_holds_one_row_group_at_a_time(
    spark, store, monkeypatch, target_files, cluster_by, slices
):
    """compact of a data file of 32 row groups (160 documents of 72 KB,
    names in no order, one tombstoned) reads the content one row group at
    a time, hands _write_docs one output row group at a time, and never
    holds a quarter of the store's content in Arrow memory (the rows in
    between are spilled to a memory-mapped file). Rows, clustered ranges
    and twins are as before."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dmshadoop_spark.dms import store as store_mod

    path = _unordered_store(store, 160, 5, repeat=4000)
    md = pq.ParquetFile(path).metadata
    assert [md.row_group(i).num_rows for i in range(md.num_row_groups)] == [5] * 32
    content = sum(pq.read_table(path, columns=["length"]).column(0).to_pylist())
    assert content > 10 * 2**20
    store.delete("doc-003.txt")
    before = _every_column(store)
    monkeypatch.setattr(store_mod, "_DATA_ROW_GROUP", 4)
    held, written, allocated = [], [], []

    def record(table):
        if "content" in table.column_names:
            held.append(table.num_rows)
        allocated.append(pa.total_allocated_bytes())
        return table

    write_docs = store_mod._write_docs

    def write_recorded(docs, dir_path, postings=None):
        written.append([])

        def stream():
            for table in docs:
                written[-1].append(table.num_rows)
                yield record(table)

        return write_docs(stream(), dir_path, postings)

    with monkeypatch.context() as m:
        for method in ("read", "read_row_group", "read_row_groups"):
            read = getattr(pq.ParquetFile, method)
            m.setattr(
                pq.ParquetFile,
                method,
                lambda self, *a, _read=read, **k: record(_read(self, *a, **k)),
            )
        read_table = pq.read_table
        m.setattr(pq, "read_table", lambda *a, **k: record(read_table(*a, **k)))
        m.setattr(store_mod, "_write_docs", write_recorded)
        base = pa.total_allocated_bytes()
        _, jobs = _jobs_started(
            spark, lambda: store.compact(target_files, cluster_by=cluster_by)
        )
    assert jobs == []
    assert held and max(held) <= 5
    assert [sum(w) for w in written] == slices
    assert max(max(w) for w in written) <= 4
    assert max(allocated) - base < content / 4
    assert _every_column(store) == before
    ranges = _twins_match_rows(store)
    assert len(ranges) == target_files
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo
    for f in store._data_files(store.history()[-1]):
        md = pq.ParquetFile(f).metadata
        sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        assert max(sizes) == 4 and sizes[:-1] == [4] * (len(sizes) - 1)


def test_clustered_compact_tokenizes_only_twin_less_rows(store, monkeypatch):
    """A multi-slice clustered compact over a store whose one data file
    has no postings twin gives every new file a twin equal to the
    postings of its rows; only that file's rows are tokenized, once, and
    the twins of the other files are merged."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc

    from dmshadoop_spark.dms import store as store_mod

    for i in range(12):
        store.upload(f"doc-{i:02}.txt", f"word{i} common m{i % 3}".encode())
    rows = store.df().toArrow().combine_chunks()  # one row group per file
    even = pc.is_in(
        rows.column("name"),
        value_set=pa.array([f"doc-{i:02}.txt" for i in range(0, 12, 2)]),
    )

    def stage(staging):
        bare = store_mod._write_docs(rows.filter(even), staging)[0]
        store_mod._write_docs(rows.filter(pc.invert(even)), staging)
        os.remove(os.path.join(staging, "_postings", bare))

    store._commit(stage, None)
    before = _every_column(store)
    tokenized = []
    postings_of = store_mod._postings_of

    def recorded(docs):
        tokenized.append(docs.num_rows)
        return postings_of(docs)

    with monkeypatch.context() as m:
        m.setattr(store_mod, "_postings_of", recorded)
        store.compact(3, cluster_by=["name"])
    assert tokenized == [6]
    assert _every_column(store) == before
    assert len(_twins_match_rows(store)) == 3
    assert [tuple(r) for r in store.search("common m1").collect()][:2] == [
        ("doc-01.txt", 1, 2),
        ("doc-04.txt", 1, 2),
    ]


# --------------------------------------------------------------------------
# point reads through cached footers and tombstones; compact's twin order
# --------------------------------------------------------------------------


def _unpruned(store, name, gen=None):
    """The live (version, content, meta) rows of ``name`` and its
    tombstoned versions, from every data and tombstone file of the
    generation read whole and filtered in Python."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dmshadoop_spark.dms import store as store_mod

    gen = store.history()[-1] if gen is None else gen
    dead = {
        (r["name"], r["version"])
        for f in store._tombstone_files(gen)
        for r in pq.read_table(
            f, schema=store_mod._ARROW_TOMBSTONE_SCHEMA
        ).to_pylist()
    }
    files = store._data_files(gen)
    rows = pa.concat_tables(
        [
            pq.read_table(f, schema=store_mod._ARROW_DOCUMENT_SCHEMA)
            for f in files
        ]
    ).to_pylist()
    live = sorted(
        (r["version"], r["content"], r["meta"])
        for r in rows
        if r["name"] == name and (name, r["version"]) not in dead
    )
    return live, {v for n, v in dead if n == name}


_READ_NAMES = st.one_of(
    st.text(min_size=65, max_size=90),  # longer than 64 bytes
    st.sampled_from(["", "é.txt", "日本語.pdf", "a.txt", "a.txt.1", "\x00"]),
    st.text(max_size=6),
)


@settings(max_examples=15, deadline=None)
@given(
    names=st.lists(_READ_NAMES, min_size=1, max_size=10, unique=True),
    versions=st.integers(min_value=1, max_value=3),
    dead=st.sets(st.integers(min_value=0, max_value=30), max_size=6),
    row_group=st.integers(min_value=1, max_value=4),
    cluster=st.booleans(),
)
def test_point_reads_equal_the_unpruned_read(
    spark, tmp_path_factory, names, versions, dead, row_group, cluster
):
    """With row groups of 1-4 rows, so that a name's versions straddle
    row-group boundaries, over names that are long, non-ASCII or empty,
    with tombstones present and before and after a compaction: _rows,
    download (latest and each version) and get_file_meta_data equal the
    answer of reading every file whole, and no call builds a
    pyarrow.dataset."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from dmshadoop_spark.dms import store as store_mod

    store = DocumentStore(spark, str(tmp_path_factory.mktemp("dms_rows")))
    keys = [(n, v) for n in names for v in range(1, versions + 1)]
    rows = pa.Table.from_pylist(
        [
            store_mod._make_row(n, v, f"{n}:{v}".encode(), {"i": str(i)})
            for i, (n, v) in enumerate(keys)
        ],
        schema=store_mod._ARROW_DOCUMENT_SCHEMA,
    )
    if cluster:
        rows = rows.sort_by([("name", "ascending"), ("version", "ascending")])

    def no_dataset(*args, **kwargs):
        raise AssertionError("a point read built a pyarrow.dataset")

    with pytest.MonkeyPatch.context() as m:
        m.setattr(store_mod, "_DATA_ROW_GROUP", row_group)
        store._commit(lambda staging: store_mod._write_docs(rows, staging), None)
        store.upload(names[0], b"another version")
        gone = [keys[i] for i in sorted(dead) if i < len(keys)]
        if gone:
            store._delete_keys(
                pa.table(
                    {"name": [k[0] for k in gone], "version": [k[1] for k in gone]}
                )
            )
        for compacted in (False, True):
            if compacted:
                store.compact(2, cluster_by=["name"] if cluster else None)
            for name in [*names, "absent.txt", names[0] + "\x00"]:
                live, tombstoned = _unpruned(store, name)
                with pytest.MonkeyPatch.context() as reads:
                    reads.setattr(ds, "dataset", no_dataset)
                    got, got_dead = store._rows(name, ("content", "meta"))
                    latest = store.download(name)
                    by_version = {v: store.download(name, v) for v, _, _ in live}
                    meta = store.get_file_meta_data(name)
                assert sorted(
                    (r["version"], r["content"], r["meta"]) for r in got
                ) == live
                assert got_dead == (set() if compacted else tombstoned)
                assert latest == (live[-1][1] if live else None)
                assert by_version == {v: c for v, c, _ in live}
                assert meta == (dict(live[-1][2]) if live else None)


def test_a_second_instance_sees_the_first_ones_commits(spark, tmp_path):
    """Two DocumentStore objects over one directory: every commit of one
    is seen by the other's next read, its cache warm or not."""
    path = str(tmp_path / "dms")
    writer, reader = DocumentStore(spark, path), DocumentStore(spark, path)
    writer.upload("x.txt", b"one")
    assert reader.download("x.txt") == b"one"
    writer.upload("x.txt", b"two")
    writer.delete("x.txt", 1)
    assert reader.download("x.txt") == b"two"
    assert reader.get_file_version("x.txt") == [2]
    writer.compact(cluster_by=["name"])
    assert reader.layout()["tombstone_rows"] == 0
    writer.delete("x.txt")
    assert reader.download("x.txt") is None
    assert reader.get_lastest_version("x.txt") is None
    assert writer.update("x.txt", b"three") is False
    writer.upload("x.txt", b"four")
    assert reader.download("x.txt") == b"four"
    assert reader.get_lastest_version("x.txt") == 3


def test_time_travel_reads_through_a_warm_cache(store):
    """Reads of older generations, each after a read of the current one,
    answer from the generation asked for; the current one is right again
    afterwards; an uncommitted generation number raises."""
    store.upload("t.txt", b"v1")
    g1 = store.history()[-1]
    store.upload("t.txt", b"v2")
    store.delete("t.txt", 1)
    g2 = store.history()[-1]
    store.compact(cluster_by=["name"])
    store.upload("t.txt", b"v3")
    for _ in range(2):
        assert store.download("t.txt") == b"v3"
        assert store._rows("t.txt", ("content",), g1) == (
            [{"version": 1, "content": b"v1"}],
            set(),
        )
        assert store._rows("t.txt", ("content",), g2) == (
            [{"version": 2, "content": b"v2"}],
            {1},
        )
        assert store.layout(g2)["tombstone_rows"] == 1
        assert store.get_file_version("t.txt") == [2, 3]
    with pytest.raises(ValueError, match="no committed generation"):
        store._rows("t.txt", (), g2 + 100)


def test_a_replaced_file_is_read_again(store, tmp_path):
    """A data file replaced under its name, by a new inode or rewritten
    in place with a new mtime, is read again; an unchanged one is not."""
    import os

    import pyarrow as pa

    from dmshadoop_spark.dms import store as store_mod

    store.upload("r.txt", b"old body")
    (path,) = store._data_files(store.history()[-1])
    loads = []
    load = store._footers._load
    store._footers._load = lambda p: loads.append(p) or load(p)
    assert store.download("r.txt") == b"old body"
    assert store.download("r.txt") == b"old body"
    assert len(loads) == 1

    def file_of(content):
        row = pa.Table.from_pylist(
            [store_mod._make_row("r.txt", 1, content, None)],
            schema=store_mod._ARROW_DOCUMENT_SCHEMA,
        )
        out = tmp_path / f"new-{len(content)}"
        part, _ = store_mod._write_docs(row, str(out))
        return os.path.join(out, part)

    inode = os.stat(path).st_ino
    os.replace(file_of(b"new body"), path)  # a new inode
    assert os.stat(path).st_ino != inode
    assert store.download("r.txt") == b"new body"
    inode = os.stat(path).st_ino
    with open(file_of(b"newer body"), "rb") as src, open(path, "r+b") as dst:
        dst.truncate(0)  # the same inode, rewritten
        dst.write(src.read())
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(path).st_ino == inode
    assert store.download("r.txt") == b"newer body"
    assert len(loads) == 3


def test_clustered_point_read_decodes_one_row_group(spark, store, monkeypatch):
    """After a clustered compaction into files of several row groups, a
    point read decodes exactly one data row group, reads no footer again
    and starts no Spark job; layout() counts the row groups."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dmshadoop_spark.dms import store as store_mod

    monkeypatch.setattr(store_mod, "_DATA_ROW_GROUP", 8)
    order = random.Random(3).sample(range(64), 64)
    rows = pa.Table.from_pylist(
        [
            store_mod._make_row(f"doc-{i:02}.txt", 1, f"body {i}".encode(), None)
            for i in order
        ],
        schema=store_mod._ARROW_DOCUMENT_SCHEMA,
    )
    store._commit(lambda staging: store_mod._write_docs(rows, staging), None)
    assert store.layout()["data_row_groups"] == 8  # the writer cuts them
    store.compact(2, cluster_by=["name"])
    lay = store.layout()
    assert (lay["data_files"], lay["data_row_groups"]) == (2, 8)
    assert store.download("doc-20.txt") == b"body 20"  # warm
    decoded, footers = [], []
    reads = {
        "read_row_groups": lambda self, groups, *a, **k: len(groups),
        "read_row_group": lambda self, *a, **k: 1,
        "read": lambda self, *a, **k: self.num_row_groups,
    }
    with monkeypatch.context() as m:
        for method, count in reads.items():
            real = getattr(pq.ParquetFile, method)

            def spy(self, *a, _real=real, _count=count, **k):
                decoded.append(_count(self, *a, **k))
                return _real(self, *a, **k)

            m.setattr(pq.ParquetFile, method, spy)
        real_metadata = pq.read_metadata
        m.setattr(pq, "read_metadata", lambda *a, **k: footers.append(a) or real_metadata(*a, **k))
        for call, want in (
            (lambda: store.download("doc-21.txt"), b"body 21"),
            (lambda: store.get_file_meta_data("doc-40.txt")["length"], "7"),
        ):
            decoded.clear()
            got, jobs = _jobs_started(spark, call)
            assert (got, jobs, decoded) == (want, [], [1])
    assert footers == []


@pytest.mark.parametrize("packed", [True, False], ids=["packed_key", "lexsort"])
def test_compacted_twins_equal_the_postings_of_their_rows(
    store, monkeypatch, packed
):
    """compact with target_files 1 and 3, with and without clustering,
    over files with twins, a twin-less file and tombstones: every output
    twin equals the postings of its file's rows in _POSTINGS_ORDER, and
    the rows are kept. Ordering the twin by np.lexsort, when the packed
    key's bound is exceeded, gives the same twins."""
    import os

    import numpy as np
    import pyarrow as pa

    from dmshadoop_spark.dms import store as store_mod

    for i in range(12):
        store.upload(f"doc-{i:02}.txt", f"word{i} common m{i % 3}".encode())
    store.upload("doc-05.txt", b"common again word5 m2 m2")
    rows = pa.Table.from_pylist(
        [
            store_mod._make_row(f"bare-{i}.txt", 1, f"bare m{i} common".encode(), None)
            for i in range(5)
        ],
        schema=store_mod._ARROW_DOCUMENT_SCHEMA,
    )

    def stage(staging):
        part, _ = store_mod._write_docs(rows, staging)
        os.remove(os.path.join(staging, "_postings", part))

    store._commit(stage, store.history()[-1])
    store.delete("doc-03.txt")
    store.delete("bare-2.txt")
    base = store.history()[-1]
    before = _every_column(store)
    lexsorts = []
    if not packed:
        monkeypatch.setattr(store_mod, "_PACKED_KEYS", 1)
        lexsort = np.lexsort
        monkeypatch.setattr(
            store_mod.np, "lexsort", lambda keys: lexsorts.append(1) or lexsort(keys)
        )
    runs = ((1, None), (3, None), (1, ["name"]), (3, ["name"]))
    for target_files, cluster_by in runs:
        store.restore(base)
        store.compact(target_files, cluster_by=cluster_by)
        assert _every_column(store) == before
        assert store.layout()["tombstone_rows"] == 0
        assert len(_twins_match_rows(store)) == target_files
    assert len(lexsorts) == (0 if packed else len(runs))

"""kernels/tar.py (from-scratch ustar) + operators/webdataset.py:
cross-validation against stdlib tarfile BOTH directions, determinism,
hostile-input behavior, and the Spark shard write/read/pivot loop
through the real JPEG codec."""

import io
import random
import tarfile

import numpy as np
import pytest

from irivermetrics_spark.kernels import tar as tark


def _stdlib_read(blob: bytes) -> list[tuple[str, bytes]]:
    out = []
    with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
        for m in tf:
            if m.isreg():
                out.append((m.name, tf.extractfile(m).read()))
    return out


MEMBERS = [
    ("0001.jpg", b"\xff\xd8 fake jpeg payload \x00\x01\x02"),
    ("0001.txt", "a caption with unicode é中".encode()),
    ("0001.json", b'{"id": 1}'),
    ("deep/dir/0002.bin", bytes(range(256)) * 3),
    ("0003.empty", b""),
]


def test_writer_read_by_stdlib_tarfile():
    blob = tark.write_tar(MEMBERS)
    assert _stdlib_read(blob) == MEMBERS
    # deterministic: same members -> identical bytes
    assert tark.write_tar(MEMBERS) == blob


def test_reader_reads_stdlib_ustar_and_gnu():
    for fmt in (tarfile.USTAR_FORMAT, tarfile.GNU_FORMAT, tarfile.PAX_FORMAT):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
            for name, data in MEMBERS:
                info = tarfile.TarInfo(name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        got = list(tark.iter_tar(buf.getvalue()))
        assert got == MEMBERS, fmt


def test_round_trip_own_kernel():
    blob = tark.write_tar(MEMBERS)
    assert list(tark.iter_tar(blob)) == MEMBERS


def test_long_names_prefix_split_and_gnu_longname():
    long_name = "/".join(["component"] * 12) + "/sample-0001.jpg"  # > 100 bytes
    assert len(long_name) > 100
    blob = tark.write_tar([(long_name, b"x")])
    assert _stdlib_read(blob) == [(long_name, b"x")]
    assert list(tark.iter_tar(blob)) == [(long_name, b"x")]
    # a name with no splittable '/' in range must be rejected, not mangled
    with pytest.raises(ValueError):
        tark.write_tar([("x" * 200, b"")])
    # GNU longname record (stdlib GNU format emits type 'L')
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.GNU_FORMAT) as tf:
        info = tarfile.TarInfo("y" * 180)
        info.size = 2
        tf.addfile(info, io.BytesIO(b"ab"))
    assert list(tark.iter_tar(buf.getvalue())) == [("y" * 180, b"ab")]


def test_reader_skips_dirs_and_links():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        d = tarfile.TarInfo("adir")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
        link = tarfile.TarInfo("alink")
        link.type = tarfile.SYMTYPE
        link.linkname = "0001.jpg"
        tf.addfile(link)
        info = tarfile.TarInfo("0001.jpg")
        info.size = 3
        tf.addfile(info, io.BytesIO(b"abc"))
    assert list(tark.iter_tar(buf.getvalue())) == [("0001.jpg", b"abc")]


def test_corruption_raises_value_error():
    blob = bytearray(tark.write_tar(MEMBERS))
    blob[130] ^= 0xFF  # size field garbage -> checksum mismatch
    with pytest.raises(ValueError):
        list(tark.iter_tar(bytes(blob)))
    with pytest.raises(ValueError):  # truncated payload
        list(tark.iter_tar(tark.write_tar(MEMBERS)[: 512 + 7]))
    with pytest.raises(ValueError):  # trailing partial header
        list(tark.iter_tar(tark.write_tar([]) [:-1024] + b"\x01" * 100))


def test_fuzz_never_hangs_or_crashes_unexpectedly():
    rng = random.Random(11)
    base = tark.write_tar(MEMBERS)
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] ^= 1 + rng.randrange(255)
        cut = rng.randrange(len(b) + 1)
        try:
            list(tark.iter_tar(bytes(b[:cut])))
        except ValueError:
            pass  # the only contracted failure mode


def test_split_member_name():
    from irivermetrics_spark.operators.webdataset import split_member_name

    assert split_member_name("0001.jpg") == ("0001", "jpg")
    assert split_member_name("a/b/0001.seg.png") == ("a/b/0001", "seg.png")
    assert split_member_name("noext") == ("noext", "")


# ----------------------------------------------------------------- spark

def _sample_frame(spark, n=12):
    from irivermetrics_spark import codecs
    from irivermetrics_spark.kernels import jpeg as jpegk

    rows = []
    for i in range(n):
        arr = np.full((1, 8, 8), (i * 17) % 200, np.uint8)
        rows.append((f"s{i:04d}", bytearray(jpegk.encode_baseline(arr)),
                     f"caption {i}".encode(), b'{"i": %d}' % i if i % 3 else None))
    return spark.createDataFrame(
        rows, "key string, jpg binary, txt binary, json binary")


def test_webdataset_write_read_pivot_e2e(spark, tmp_path):
    from irivermetrics_spark.operators import webdataset as wds

    df = _sample_frame(spark)
    out = str(tmp_path / "shards")
    man = wds.write_webdataset(df, out, n_shards=3,
                               payload_cols=["jpg", "txt", "json"]).collect()
    assert sorted(r.shard for r in man) == [0, 1, 2]
    assert sum(r.n_samples for r in man) == 12

    members = wds.read_webdataset(spark, out)
    bad = members.where("error IS NOT NULL").count()
    assert bad == 0
    # every sample's members are consecutive + grouped; json nullable
    piv = wds.pivot_samples(members, ["jpg", "txt", "json"])
    got = {r.key: r for r in piv.collect()}
    src = {r.key: r for r in df.collect()}
    assert set(got) == set(src)
    for k, r in got.items():
        assert bytes(r.jpg) == bytes(src[k].jpg)
        assert bytes(r.txt) == bytes(src[k].txt)
        if src[k].json is None:
            assert r.json is None
        else:
            assert bytes(r.json) == bytes(src[k].json)


def test_webdataset_deterministic_and_stable_membership(spark, tmp_path):
    from irivermetrics_spark.operators import sharding
    from irivermetrics_spark.operators import webdataset as wds

    df = _sample_frame(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    wds.write_webdataset(df, a, n_shards=2, payload_cols=["jpg", "txt"], seed=7)
    wds.write_webdataset(df.repartition(5), b, n_shards=2,
                         payload_cols=["jpg", "txt"], seed=7)
    for i in range(2):
        pa = open(f"{a}/shard-{i:05d}.tar", "rb").read()
        pb = open(f"{b}/shard-{i:05d}.tar", "rb").read()
        assert pa == pb and len(pa) > 0
    # membership matches the published shard_assignments contract
    want = {r.key: r.shard for r in sharding.shard_assignments(
        df, 2, seed=7, id_col="key").collect()}
    got = {}
    for name, _ in tark.iter_tar(open(f"{a}/shard-00000.tar", "rb").read()):
        got[name.split(".")[0]] = 0
    for name, _ in tark.iter_tar(open(f"{a}/shard-00001.tar", "rb").read()):
        got[name.split(".")[0]] = 1
    assert got == want


def test_webdataset_dead_letter_and_validation(spark, tmp_path):
    from irivermetrics_spark.operators import webdataset as wds

    df = _sample_frame(spark, n=4)
    out = str(tmp_path / "shards")
    wds.write_webdataset(df, out, n_shards=1, payload_cols=["jpg"])
    with open(f"{out}/evil.tar", "wb") as f:
        f.write(b"not a tar at all" * 40)
    members = wds.read_webdataset(spark, out)
    assert members.where("error IS NOT NULL").count() == 1
    assert members.where("error IS NULL").count() == 4
    with pytest.raises(ValueError):
        wds.write_webdataset(df, out, n_shards=1, payload_cols=[])
    with pytest.raises(ValueError):
        wds.write_webdataset(df, out, n_shards=1, payload_cols=["nope"])
    # duplicate keys must fail loudly, not interleave samples
    dup = df.union(df)
    with pytest.raises(Exception, match="duplicate sample key"):
        wds.write_webdataset(dup, str(tmp_path / "dup"), n_shards=1,
                             payload_cols=["jpg"])


def test_dotted_keys_rejected(spark, tmp_path):
    """r7 review find: keys containing '.' would merge into one sample
    on read-back (first-dot split) — the writer must reject them."""
    from irivermetrics_spark.operators import webdataset as wds

    df = spark.createDataFrame([("a.1", b"x"), ("a.2", b"y")],
                               "key string, jpg binary")
    with pytest.raises(Exception, match="field separator"):
        wds.write_webdataset(df, str(tmp_path / "d"), n_shards=1,
                             payload_cols=["jpg"])


def test_pax_long_names_round_trip():
    """r7 review find: stdlib tarfile's DEFAULT format is PAX — long
    names arrive as 'x' extended-header path records, which the reader
    must apply (not silently yield the truncated ustar name)."""
    import io
    import tarfile

    long_name = "x" * 180 + ".jpg"
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.PAX_FORMAT) as tf:
        info = tarfile.TarInfo(long_name)
        info.size = 3
        tf.addfile(info, io.BytesIO(b"abc"))
        short = tarfile.TarInfo("short.txt")
        short.size = 2
        tf.addfile(short, io.BytesIO(b"ok"))
    got = list(tark.iter_tar(buf.getvalue()))
    assert got == [(long_name, b"abc"), ("short.txt", b"ok")]


def test_stream_webdataset_exactly_once(spark, tmp_path):
    """Streaming shard ingest: files appearing across micro-batches are
    each parsed exactly once (FileStreamSource tracking), through the
    same kernel as the batch reader."""
    from irivermetrics_spark.operators import webdataset as wds

    src = tmp_path / "shards"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    (src / "s0.tar").write_bytes(tark.write_tar([("a.txt", b"1"),
                                                 ("b.txt", b"2")]))
    members = wds.stream_webdataset(spark, str(src))
    q = (members.writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got1 = spark.read.parquet(sink)
    assert got1.count() == 2

    (src / "s1.tar").write_bytes(tark.write_tar([("c.txt", b"3")]))
    q2 = (wds.stream_webdataset(spark, str(src)).writeStream
          .format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    # restart processed ONLY the new shard: 3 rows total, no re-reads
    assert sorted(r.key for r in rows) == ["a", "b", "c"]
    batch = {(r.key, bytes(r.bytes)) for r in
             wds.read_webdataset(spark, str(src)).collect()}
    assert batch == {(r.key, bytes(r.bytes)) for r in rows}


def test_stream_webdataset_ingests_old_mtimes(spark, tmp_path):
    """r7 review find: FileStreamSource's default maxFileAge (7d)
    silently skips mtime-preserving backfills; the reader pins it."""
    import os
    import time

    src = tmp_path / "olds"
    src.mkdir()
    p_old = src / "old.tar"
    p_old.write_bytes(tark.write_tar([("old.txt", b"o")]))
    past = time.time() - 60 * 86400
    os.utime(p_old, (past, past))
    (src / "new.tar").write_bytes(tark.write_tar([("new.txt", b"n")]))

    from irivermetrics_spark.operators import webdataset as wds

    sink = str(tmp_path / "sink2")
    q = (wds.stream_webdataset(spark, str(src)).writeStream
         .format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    keys = sorted(r.key for r in spark.read.parquet(sink).collect())
    assert keys == ["new", "old"]  # the 60-day-old backfill is NOT skipped


def test_grouped_map_kernels_raise_no_type_hint_warning(spark, tmp_path):
    """``webdataset.emit`` and ``distccl.local_label`` carry no partial
    type hints: Spark would warn once per call that it cannot infer the
    grouped map's eval type from them."""
    import warnings

    import pandas as pd

    from irivermetrics_spark.operators import distccl
    from irivermetrics_spark.operators import webdataset as wds

    pts = spark.createDataFrame(pd.DataFrame(dict(
        scene="s", ds="d", px=np.arange(40, dtype="int32"), py=np.zeros(40, dtype="int32"))))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        wds.write_webdataset(_sample_frame(spark, n=4), str(tmp_path / "shards"), n_shards=2,
                             payload_cols=["jpg", "txt"]).collect()
        assert distccl.label_components(pts, tile=16).select("component").distinct().count() == 1
    assert not [w for w in caught if "type hints" in str(w.message)]

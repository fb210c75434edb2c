"""Sources: XML record scan (S4), permissive CSV (S5/S6), unit heuristic."""

import textwrap

from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.sources.readers import coerce_hours, read_csv_permissive
from practicum2_nof1_adhd_bd_spark.sources.xml_records import (
    hr_events_from_xml,
    read_xml_records,
)

XML = textwrap.dedent("""\
    <?xml version="1.0" encoding="UTF-8"?>
    <HealthData locale="en_US">
     <ExportDate value="2024-06-01 10:00:00 +0000"/>
     <Record type="HKQuantityTypeIdentifierHeartRate" sourceName="Watch" unit="count/min" value="72" startDate="2024-01-15 10:30:45 +0000" endDate="2024-01-15 10:30:45 +0000"/>
     <Record type="HKQuantityTypeIdentifierHeartRate" sourceName="Watch" unit="count/min" value="85" startDate="2024-01-15 11:00:00 +0000" endDate="2024-01-15 11:00:00 +0000"/>
     <Record type="HKCategoryTypeIdentifierSleepAnalysis" value="HKCategoryValueSleepAnalysisAsleep" startDate="2024-01-15 23:00:00 +0000" endDate="2024-01-16 06:00:00 +0000"/>
     <Record type="HKQuantityTypeIdentifierStepCount" value="523" startDate="2024-01-15 12:00:00 +0000" endDate="2024-01-15 13:00:00 +0000"/>
    </HealthData>
""")


def test_read_xml_records_typed_filter(spark, tmp_path):
    p = tmp_path / "export.xml"
    p.write_text(XML)
    all_recs = read_xml_records(spark, str(p))
    assert all_recs.count() == 4
    hr = read_xml_records(spark, str(p), record_type="HKQuantityTypeIdentifierHeartRate")
    assert hr.count() == 2
    assert {r["value"] for r in hr.collect()} == {"72", "85"}


def test_hr_events_from_xml_parses_ts_and_value(spark, tmp_path):
    p = tmp_path / "export.xml"
    p.write_text(XML)
    out = hr_events_from_xml(spark, str(p)).orderBy("ts").collect()
    assert [r["hr_value"] for r in out] == [72.0, 85.0]
    assert out[0]["ts"].hour == 10 and out[0]["ts"].minute == 30


CSV = "time,heartRate,junk\n2024-01-01 10:00:00,72,x\n2024-01-01 11:00:00,notanumber,y\n"


def test_read_csv_permissive_alias_and_corrupt(spark, tmp_path):
    p = tmp_path / "hr.csv"
    p.write_text(CSV)
    df = read_csv_permissive(
        spark,
        str(p),
        "time string, heartRate double, junk string",
        alias_map={"ts": ["timestamp", "time"], "hr": ["value", "heartRate", "bpm"]},
    )
    assert "ts" in df.columns and "hr" in df.columns
    rows = df.orderBy("ts").collect()
    assert rows[0]["hr"] == 72.0
    assert rows[1]["hr"] is None  # coerced, corrupt record captured
    assert rows[1]["_corrupt_record"] is not None


def test_coerce_hours_minutes_heuristic(spark):
    mins = spark.createDataFrame([(480.0,), (360.0,)], "dur double")
    out = sorted(r["dur"] for r in coerce_hours(mins, "dur").collect())
    assert out == [6.0, 8.0]  # max>24 -> values were minutes
    hours = spark.createDataFrame([(8.0,), (6.0,)], "dur double")
    out2 = sorted(r["dur"] for r in coerce_hours(hours, "dur").collect())
    assert out2 == [6.0, 8.0]  # untouched


def test_bare_session_reads_events_like_the_driver():
    """Regression for the round-1/2 driver failure: the external harness
    supplies a BARE SparkSession (none of session.py's confs), and
    events.parquet is TIMESTAMP(NANOS). Catalog.__init__ must make the read
    work on whatever session it receives. Runs in a subprocess because any
    in-process session would inherit this suite's tuned confs — which is
    exactly the blindness that let the bug survive two rounds."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "from practicum2_nof1_adhd_bd_spark.registry import QUERIES\n"
        "n = QUERIES['daily_event_stats'](spark, '/root/testdata/sf0.001').count()\n"
        "assert n > 0, n\n"
        "print('BARE_OK', n)\n"
    ) % repo
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "BARE_OK" in out.stdout


def test_cda_probe_counts_and_codes(spark, tmp_path):
    """S10 — namespaced CDA: section/observation tag counts + per-code
    observation counts, first-code-child semantics (ref parse_cda.py:20-260)."""
    from practicum2_nof1_adhd_bd_spark.sources.cda import cda_probe

    doc = """<?xml version="1.0"?>
<ClinicalDocument xmlns="urn:hl7-org:v3" xmlns:x="urn:x">
  <component>
    <x:section>
      <code code="SEC-1"/>
      <entry>
        <observation classCode="OBS">
          <code code="8867-4" displayName="Heart rate"/>
          <value value="72"/>
        </observation>
      </entry>
      <entry>
        <x:observation>
          <x:code displayName="Steps"/>
        </x:observation>
      </entry>
    </x:section>
    <section>
      <entry>
        <observation>
          <code code="8867-4"/>
        </observation>
      </entry>
      <entry>
        <observation><value value="1"/></observation>
      </entry>
    </section>
  </component>
</ClinicalDocument>
"""
    p = tmp_path / "export_cda.xml"
    p.write_text(doc)
    out = {
        (r["metric"], r["code"]): r["n"] for r in cda_probe(spark, str(p)).collect()
    }
    assert out[("n_section", None)] == 2
    assert out[("n_observation", None)] == 4
    # 2x 8867-4 (code= attr), 1x Steps (displayName fallback); the 4th
    # observation has no code child; SEC-1 is a section code, not counted
    assert out[("code", "8867-4")] == 2
    assert out[("code", "Steps")] == 1
    assert ("code", "SEC-1") not in out


def test_zip_ingest_members_and_pattern(spark, tmp_path):
    import zipfile

    from practicum2_nof1_adhd_bd_spark.sources.zip_ingest import (
        csv_lines_from_zip,
        read_zip_members,
    )

    p = tmp_path / "export.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("a.csv", "x,y\n1,2\n3,4")
        zf.writestr("sub/b.csv", "x,y\n5,6")
        zf.writestr("notes.txt", "skip me")
    members = read_zip_members(spark, str(p)).collect()
    assert {m["member_name"] for m in members} == {"a.csv", "sub/b.csv", "notes.txt"}
    by_name = {m["member_name"]: m for m in members}
    assert bytes(by_name["a.csv"]["member_bytes"]) == b"x,y\n1,2\n3,4"
    assert by_name["sub/b.csv"]["n_bytes"] == len(b"x,y\n5,6")

    lines = csv_lines_from_zip(spark, str(p), pattern="*.csv").collect()
    assert all(l["member_name"].endswith(".csv") for l in lines)
    assert sorted(l["line"] for l in lines) == sorted(
        ["x,y", "1,2", "3,4", "x,y", "5,6"]
    )


def test_iphone_backup_manifest_scan(spark, tmp_path):
    """S13: multiple Manifest.db catalogs scan in one distributed job;
    rows land as ordinary columns."""
    import sqlite3

    from practicum2_nof1_adhd_bd_spark.sources import iphone_backup

    for b in range(2):
        db = tmp_path / f"backup{b}_Manifest.db"
        con = sqlite3.connect(db)
        con.execute(
            "CREATE TABLE Files (fileID TEXT, domain TEXT, "
            "relativePath TEXT, flags INT, file BLOB)"
        )
        con.executemany(
            "INSERT INTO Files VALUES (?,?,?,?,?)",
            [
                (f"b{b}f{i}", "HomeDomain" if i % 2 else "AppDomain",
                 f"d/f_{i}", 1 if i % 5 else 2, None)
                for i in range(20)
            ],
        )
        con.commit()
        con.close()
    m = iphone_backup.read_backup_manifests(
        spark, str(tmp_path / "*_Manifest.db")
    )
    rows = m.collect()
    assert len(rows) == 40
    assert len({r["backup_path"] for r in rows}) == 2
    prof = {
        r["domain"]: r
        for r in iphone_backup.domain_profile(m).collect()
    }
    assert prof["HomeDomain"]["n_records"] == 20
    # dirs are i%5==0 -> {0,5,10,15}; even ones {0,10} land in AppDomain,
    # twice (one per backup)
    assert prof["AppDomain"]["n_dirs"] == 4


def test_iphone_backup_encrypted_end_to_end(spark, tmp_path):
    """Full encrypted-backup path (ref iphone_backup.py:56-157): a
    synthesized encrypted tree (keybag + wrapped keys + CBC catalog +
    encrypted payloads) is read with the passphrase — keybag unlock,
    catalog decrypt and per-file key unwrap all run executor-side — and
    read_backup_files returns the original plaintext payloads."""
    from practicum2_nof1_adhd_bd_spark.sources import backup_crypto as bc
    from practicum2_nof1_adhd_bd_spark.sources import iphone_backup

    root = str(tmp_path / "encbackup")
    bc.synthesize_encrypted_backup(
        root, "spark-graft", n_records=40, iterations=200,
        payload_indices=(1, 2, 5, 8),
    )
    m = iphone_backup.read_backup_manifests(
        spark, f"{root}/Manifest.db", passphrase="spark-graft"
    )
    rows = m.collect()
    assert len(rows) == 40
    keyed = [r for r in rows if r["file_key"] is not None]
    assert len(keyed) == 4 and all(len(r["file_key"]) == 32 for r in keyed)
    files = iphone_backup.read_backup_files(
        spark, root, passphrase="spark-graft"
    ).collect()
    assert len(files) == 4
    for r in files:
        i = int(r["relative_path"].rsplit("f", 1)[1].split(".")[0])
        expected = (f"payload-{i}-".encode()) * (i % 5 + 1)
        assert bytes(r["content"]) == expected
        assert r["size"] == len(expected)


def test_iphone_backup_wrong_passphrase_fails(spark, tmp_path):
    import pytest

    from practicum2_nof1_adhd_bd_spark.sources import backup_crypto as bc
    from practicum2_nof1_adhd_bd_spark.sources import iphone_backup

    root = str(tmp_path / "encbackup2")
    bc.synthesize_encrypted_backup(
        root, "right", n_records=6, iterations=50
    )
    df = iphone_backup.read_backup_manifests(
        spark, f"{root}/Manifest.db", passphrase="wrong"
    )
    with pytest.raises(Exception, match="incorrect passphrase"):
        df.collect()


def test_iphone_backup_file_extraction(spark, tmp_path):
    """S13 payload path: the xx/fileID tree joins back to the manifest at
    file grain (zip_ingest pattern) — payloads annotated with domain and
    relativePath, orphan payloads and shard-dir mismatches dropped."""
    import hashlib
    import sqlite3

    from practicum2_nof1_adhd_bd_spark.sources import iphone_backup

    root = tmp_path / "backup"
    root.mkdir()
    file_ids = [hashlib.sha1(f"f{i}".encode()).hexdigest() for i in range(4)]
    con = sqlite3.connect(root / "Manifest.db")
    con.execute(
        "CREATE TABLE Files (fileID TEXT, domain TEXT, "
        "relativePath TEXT, flags INT, file BLOB)"
    )
    con.executemany(
        "INSERT INTO Files VALUES (?,?,?,?,?)",
        [
            (fid, "HomeDomain", f"Documents/doc_{i}.txt", 1, None)
            for i, fid in enumerate(file_ids[:3])
        ]
        + [(file_ids[3], "HomeDomain", "Documents/dir", 2, None)],  # a dir
    )
    con.commit()
    con.close()
    # payloads for the first two files only (3rd is missing on disk), plus
    # an orphan not in the manifest and a blob in the WRONG shard dir
    for i, fid in enumerate(file_ids[:2]):
        shard = root / fid[:2]
        shard.mkdir(exist_ok=True)
        (shard / fid).write_bytes(f"payload-{i}".encode())
    orphan = hashlib.sha1(b"orphan").hexdigest()
    (root / orphan[:2]).mkdir(exist_ok=True)
    (root / orphan[:2] / orphan).write_bytes(b"orphan-bytes")
    bad = root / "zz"
    bad.mkdir()
    (bad / file_ids[2]).write_bytes(b"stray")

    out = iphone_backup.read_backup_files(spark, str(root))
    rows = {r["file_id"]: r for r in out.collect()}
    assert set(rows) == set(file_ids[:2])
    assert rows[file_ids[0]]["relative_path"] == "Documents/doc_0.txt"
    assert bytes(rows[file_ids[1]]["content"]) == b"payload-1"
    assert rows[file_ids[0]]["size"] == len(b"payload-0")


def test_cda_order_robust_to_file_splits(spark, tmp_path):
    """Document order (the first-code-child association) must not depend
    on how Spark splits the file: force tiny splits so the scan fans out
    over many partitions and assert the summary equals the
    single-partition read — the (file_block_start, id) order key makes
    split scheduling irrelevant."""
    from practicum2_nof1_adhd_bd_spark.sources import cda

    lines = ['<?xml version="1.0"?>', "<doc>"]
    for i in range(400):
        if i % 50 == 0:
            lines.append(f'<section id="s{i // 50}">')
            lines.append('<code displayName="SecTitle"/>')
        lines.append(f'<observation n="{i}" filler="{"x" * 40}">')
        lines.append(f'<code code="C{i % 6}"/>')
        lines.append("</observation>")
        if i % 50 == 49:
            lines.append("</section>")
    lines.append("</doc>")
    p = tmp_path / "big_cda.xml"
    p.write_text("\n".join(lines))

    def summary():
        return sorted(
            (r["metric"], r["code"], r["n"])
            for r in cda.cda_probe(spark, str(p)).collect()
        )

    base = summary()
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024))
        split_read = summary()
        # the tiny split size must actually have fanned the scan out
        n_parts = (
            spark.read.option("lineSep", "<")
            .text(str(p))
            .rdd.getNumPartitions()
        )
        assert n_parts > 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert split_read == base
    assert ("n_observation", None, 400) in base


def _write_aes_zip(path, password=b"pw"):
    from practicum2_nof1_adhd_bd_spark.sources import zip_crypto

    members = [
        ("data_0.csv", b"day,value\n1,10\n2,20\n3,30"),
        ("data_1.csv", b"day,value\n1,100\n2,200"),
        ("notes.txt", b"decoy member"),
    ]
    zip_crypto.synthesize_encrypted_zip(str(path), members, password)
    return members


def test_winzip_aes_roundtrip_all_strengths(tmp_path):
    """The pure-bytes codec: synthesize -> parse -> decrypt at every AES
    strength; wrong password fails the verifier BEFORE any decrypt work,
    a flipped ciphertext byte fails the 10-byte HMAC."""
    import io
    import zipfile

    from practicum2_nof1_adhd_bd_spark.sources import zip_crypto as zc

    import pytest

    pt = b"x,y\n" + b"1,2\n" * 500
    for strength in (1, 2, 3):
        p = tmp_path / f"s{strength}.zip"
        zc.synthesize_encrypted_zip(str(p), [("m.csv", pt)], b"k", strength)
        blob = p.read_bytes()
        info = zipfile.ZipFile(io.BytesIO(blob)).infolist()[0]
        assert info.compress_type == zc.AES_METHOD
        ver, s, actual = zc.parse_aes_extra(info.extra)
        assert (ver, s, actual) == (2, strength, 8)
        raw = zc.read_raw_member(blob, info.header_offset, info.compress_size)
        assert zc.decrypt_member(raw, b"k", s, actual) == pt
        with pytest.raises(ValueError, match="wrong password"):
            zc.decrypt_member(raw, b"K", s, actual)
        salt_len = {1: 8, 2: 12, 3: 16}[strength]
        flip = salt_len + 2 + 5
        bad = raw[:flip] + bytes([raw[flip] ^ 1]) + raw[flip + 1:]
        with pytest.raises(ValueError, match="authentication"):
            zc.decrypt_member(bad, b"k", s, actual)


def test_encrypted_zip_members_distributed(spark, tmp_path):
    """End-to-end executor-side decrypt: members come back byte-exact
    through binaryFile + mapInPandas, the pattern filter skips the decoy,
    and a wrong password fails the TASK (fail-loud)."""
    from pyspark.errors import PythonException

    from practicum2_nof1_adhd_bd_spark.sources import zip_ingest

    import pytest

    members = _write_aes_zip(tmp_path / "enc.zip", b"pw")
    out = zip_ingest.read_zip_members(
        spark, str(tmp_path / "enc.zip"), pattern="*.csv", password=b"pw"
    ).collect()
    got = {r["member_name"]: bytes(r["member_bytes"]) for r in out}
    assert got == {n: b for n, b in members if n.endswith(".csv")}
    with pytest.raises(PythonException, match="wrong password"):
        zip_ingest.read_zip_members(
            spark, str(tmp_path / "enc.zip"), password=b"nope"
        ).collect()
    with pytest.raises(PythonException, match="pass password="):
        zip_ingest.read_zip_members(
            spark, str(tmp_path / "enc.zip")
        ).collect()

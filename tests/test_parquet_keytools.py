"""Key tools: local key wrapping, PKMT1 key-material envelopes, and
CryptoFactory interop in both directions.

Reference surface: parquet-hadoop crypto/keytools — KeyToolkit.java
encryptKeyLocally/decryptKeyLocally, LocalWrapKmsClient.java (AAD =
master key id), KeyMaterial.java, PropertiesDrivenCryptoFactory
(single-wrap mode). Interop peer: pyarrow's CryptoFactory (arrow C++
parquet encryption) with ``double_wrapping=False`` and a KMS client that
wraps exactly like KeyToolkit — giving byte-level proof our PARE files
and key-material JSON are what a spec reader expects.
"""

from __future__ import annotations

import numpy as np
import pytest

from pq_engine.interop.parquet_keytools import (
    encrypt_parquet_keytools,
    key_material,
    parse_key_material,
    resolve_file_keys,
    unwrap_from_material,
    unwrap_key_locally,
    wrap_key_locally,
)
from pq_engine.interop.parquet_writer import write_parquet
from pq_engine.kernels.ragged import RaggedBytes

MASTER = {"kf": b"0123456789012345", "kc": b"abcdefghijklmnop"}


def _ragged(strs):
    offs = np.zeros(len(strs) + 1, np.int64)
    for i, s in enumerate(strs):
        offs[i + 1] = offs[i] + len(s)
    return RaggedBytes(offs, np.frombuffer(b"".join(strs), np.uint8))


def _plain_file(tmp_path, n=2000):
    # multi-row-group on purpose: spec readers (arrow/parquet-mr) take the
    # AAD row-group ordinal from RowGroup.ordinal, which single-row-group
    # files cannot distinguish from the positional index
    path = str(tmp_path / "plain.parquet")
    write_parquet(path, [
        {"name": "id", "ptype": "int64", "codec": "plain",
         "values": np.arange(n, dtype=np.int64)},
        {"name": "tag", "ptype": "string", "codec": "plain",
         "values": _ragged([f"t{i % 7}".encode() for i in range(n)])},
    ], n, row_group_size=500)
    return open(path, "rb").read(), n


def test_wrap_unwrap_roundtrip_and_aad_binding():
    dek = bytes(range(16))
    wrapped = wrap_key_locally(dek, MASTER["kf"], "kf")
    assert unwrap_key_locally(wrapped, MASTER["kf"], "kf") == dek
    # the GCM tag binds the master key AND the key id (LocalWrapKmsClient
    # uses the id as AAD) — either being wrong must fail loudly
    with pytest.raises(ValueError, match="unwrap failed"):
        unwrap_key_locally(wrapped, MASTER["kc"], "kf")
    with pytest.raises(ValueError, match="unwrap failed"):
        unwrap_key_locally(wrapped, MASTER["kf"], "other-id")


def test_key_material_envelope_and_scope_refusals():
    km = key_material("kf", wrap_key_locally(b"x" * 16, MASTER["kf"], "kf"),
                      True)
    d = parse_key_material(km)
    assert d["masterKeyID"] == "kf" and d["isFooterKey"] is True
    assert unwrap_from_material(km, MASTER) == b"x" * 16
    with pytest.raises(ValueError, match="unknown master key id"):
        unwrap_from_material(km, {"zz": b"q" * 16})
    import json
    bad = dict(d, keyMaterialType="PKMT2")
    with pytest.raises(ValueError, match="key material type"):
        parse_key_material(json.dumps(bad).encode())


def test_keytools_self_roundtrip(tmp_path):
    """encrypt with master keys only -> resolve keys from the file itself
    -> native filtered read; no raw DEK ever crosses the API."""
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain, n = _plain_file(tmp_path)
    enc = encrypt_parquet_keytools(plain, MASTER, "kf", {"tag": "kc"})
    fkey, ckeys = resolve_file_keys(enc, MASTER)
    assert set(ckeys) == {"tag"}
    df, _ = read_parquet_filtered_pandas(
        enc, ("ge", "id", 0), footer_key=fkey, column_keys=ckeys)
    assert len(df) == n and int(df["id"].sum()) == n * (n - 1) // 2
    assert sorted(df["tag"].unique()) == [f"t{i}" for i in range(7)]
    # wrong master key set refuses at unwrap, before any data decrypt
    with pytest.raises(ValueError, match="unwrap failed"):
        resolve_file_keys(enc, {"kf": MASTER["kc"], "kc": MASTER["kf"]})


def test_double_wrapping_roundtrip_and_kek_sharing(tmp_path):
    """The reference-default KEK layer (FileKeyWrapper double wrapping):
    footer and column DEKs under the SAME master key share one KEK (one
    KMS wrap amortized), unwrap resolves KEK-then-DEK, and the KEK cache
    is hit for the second key."""
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain, n = _plain_file(tmp_path)
    enc = encrypt_parquet_keytools(
        plain, MASTER, "kf", {"tag": "kf"}, double_wrapping=True)
    # both envelopes are double-wrapped and share the KEK id
    from pq_engine.interop.parquet_crypto import read_crypto_footer
    info = read_crypto_footer(enc)
    footer_d = parse_key_material(info["key_metadata"])
    assert footer_d["doubleWrapping"] is True
    assert footer_d["wrappedKEK"] and footer_d["keyEncryptionKeyID"]

    fkey, ckeys = resolve_file_keys(enc, MASTER)
    assert set(ckeys) == {"tag"}
    df, _ = read_parquet_filtered_pandas(
        enc, ("ge", "id", 0), footer_key=fkey, column_keys=ckeys)
    assert len(df) == n
    # cache behavior: second unwrap under the same (master, kek) hits
    cache: dict = {}
    unwrap_from_material(info["key_metadata"], MASTER, cache)
    assert len(cache) == 1
    kek0 = next(iter(cache.values()))
    unwrap_from_material(info["key_metadata"], MASTER, cache)
    assert next(iter(cache.values())) is kek0


@pytest.mark.parametrize("algo", ["AES_GCM_V1", "AES_GCM_CTR_V1"])
def test_decrypt_transform_on_arrow_subset_encrypted_file(tmp_path, algo):
    """decrypt_parquet (the whole-file transform behind the CLI) on an
    arrow CryptoFactory file: column-key chunks there have NO inline
    meta_data (full redaction — it lives only in
    encrypted_column_metadata) and unlisted columns are PLAINTEXT. The
    transform restores meta_data into the output footer, strips the
    crypto fields, and passes plaintext chunks through verbatim; the
    result reads in DuckDB, pyarrow AND our reader."""
    duckdb = pytest.importorskip("duckdb")
    pa = pytest.importorskip("pyarrow")
    import pyarrow.parquet as papq
    pe, cf, kcfg = _crypto_factory()

    from pq_engine.interop.parquet_crypto import decrypt_parquet
    from pq_engine.interop.parquet_reader import read_parquet_pandas

    n = 2000
    tab = pa.table({"id": np.arange(n, dtype=np.int64),
                    "tag": [f"t{i % 7}" for i in range(n)]})
    ec = pe.EncryptionConfiguration(
        footer_key="kf", column_keys={"kc": ["tag"]}, double_wrapping=True,
        encryption_algorithm=algo)
    p = str(tmp_path / "a.parquet")
    with papq.ParquetWriter(
            p, tab.schema,
            encryption_properties=cf.file_encryption_properties(
                kcfg, ec)) as w:
        w.write_table(tab)
    buf = open(p, "rb").read()
    fkey, ckeys = resolve_file_keys(buf, MASTER)
    plain = decrypt_parquet(buf, fkey, column_keys=ckeys)
    pp = str(tmp_path / "plain.parquet")
    open(pp, "wb").write(plain)
    cnt, sm = duckdb.sql(
        f"SELECT count(*), sum(id) FROM read_parquet('{pp}')").fetchone()
    assert cnt == n and sm == n * (n - 1) // 2
    assert papq.read_table(pp).num_rows == n
    df = read_parquet_pandas(plain)
    assert df["tag"].iloc[5] == "t5"


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(st.integers(-(2**62), 2**62 - 1), min_size=1,
                 max_size=400),
        st.sampled_from(["AES_GCM_V1", "AES_GCM_CTR_V1"]),
        st.sampled_from(["spec", "empty"]),
        st.booleans(),  # double wrapping
        st.booleans(),  # column key on the string column
        st.integers(1, 4),  # row groups
    )
    def test_crypto_property_roundtrip(ints, algo, aad_mode, dw, ckey,
                                       n_rgs):
        """Property: for ANY table shape × algorithm × AAD mode × wrap
        mode × key layout × row-group count, a keytools encrypt followed
        by resolve_file_keys + the native filtered read returns exactly
        the plaintext rows."""
        import io

        from pq_engine.interop.parquet_reader import (
            read_parquet_filtered_pandas,
        )
        from pq_engine.interop.parquet_writer import _write_parquet_bytes

        n = len(ints)
        vals = np.array(ints, dtype=np.int64)
        tags = [f"s{abs(v) % 11}".encode() for v in ints]
        offs = np.zeros(n + 1, np.int64)
        for i, s in enumerate(tags):
            offs[i + 1] = offs[i] + len(s)
        buf = io.BytesIO()
        _write_parquet_bytes(buf, [
            {"name": "v", "ptype": "int64", "codec": "plain",
             "values": vals},
            {"name": "s", "ptype": "string", "codec": "plain",
             "values": RaggedBytes(
                 offs, np.frombuffer(b"".join(tags), np.uint8))},
        ], n, row_group_size=max(1, n // n_rgs))
        plain = buf.getvalue()
        enc = encrypt_parquet_keytools(
            plain, MASTER, "kf", {"s": "kc"} if ckey else {},
            aad_mode=aad_mode, double_wrapping=dw, algorithm=algo)
        fkey, ckeys = resolve_file_keys(enc, MASTER)
        assert set(ckeys) == ({"s"} if ckey else set())
        df, _ = read_parquet_filtered_pandas(
            enc, None, footer_key=fkey, column_keys=ckeys)
        assert list(df["v"]) == ints
        assert list(df["s"]) == [t.decode() for t in tags]
except ImportError:  # pragma: no cover
    pass


def test_external_key_material_store(tmp_path):
    """External storage (HadoopFSKeyMaterialStore / KeyMetadata
    keyReference): materials live in _KEY_MATERIAL_FOR_<file>.json under
    "footerKey"/"columnKeyN"; the parquet file carries only references.
    Rotation rewrites ONLY the side file — the parquet bytes are
    byte-identical before and after (the reference's rotateMasterKeys
    mechanism, KeyToolkit.java:200)."""
    from pq_engine.interop.parquet_keytools import (
        key_material_store_path,
        read_key_material_store,
        rotate_key_material_store,
        rotate_master_keys,
        write_key_material_store,
    )
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain, n = _plain_file(tmp_path)
    store: dict = {}
    enc = encrypt_parquet_keytools(
        plain, MASTER, "kf", {"tag": "kc"}, material_store=store)
    assert set(store) == {"footerKey", "columnKey1"}
    p = str(tmp_path / "ext.pare")
    open(p, "wb").write(enc)
    side = write_key_material_store(p, store)
    assert side == str(tmp_path / "_KEY_MATERIAL_FOR_ext.pare.json")

    # file alone is NOT enough — the reference envelope refuses by name
    with pytest.raises(ValueError, match="key-material store"):
        resolve_file_keys(enc, MASTER)
    fkey, ckeys = resolve_file_keys(
        enc, MASTER, material_store=read_key_material_store(p))
    df, _ = read_parquet_filtered_pandas(
        enc, ("ge", "id", 0), footer_key=fkey, column_keys=ckeys)
    assert len(df) == n

    # side-file rotation: parquet bytes untouched, old masters dead
    v2 = {"kf": b"FfFfFfFfFfFfFfFf", "kc": b"CcCcCcCcCcCcCcCc"}
    rotate_key_material_store(p, MASTER, v2)
    assert open(p, "rb").read() == enc  # not one byte of the file moved
    store2 = read_key_material_store(p)
    with pytest.raises(ValueError, match="unwrap failed"):
        resolve_file_keys(enc, MASTER, material_store=store2)
    fkey2, ckeys2 = resolve_file_keys(enc, v2, material_store=store2)
    df2, _ = read_parquet_filtered_pandas(
        enc, ("ge", "id", 0), footer_key=fkey2, column_keys=ckeys2)
    assert len(df2) == n
    # the internal-material rotation refuses external files by name
    with pytest.raises(ValueError, match="side file"):
        rotate_master_keys(enc, v2, MASTER)
    # no leftover temp file from the atomic write
    assert not (tmp_path / "_TMP_KEY_MATERIAL_FOR_ext.pare.json").exists()
    assert key_material_store_path(p, temp=True).endswith(
        "_TMP_KEY_MATERIAL_FOR_ext.pare.json")


def test_cli_external_material_lifecycle(tmp_path, capsys):
    """CLI: --external-material writes the side file; decrypt-parquet
    auto-loads it; rotate-keys rewrites only the side file."""
    from pq_engine.cli import main
    from pq_engine.interop.parquet_reader import read_parquet_pandas

    plain, n = _plain_file(tmp_path)
    ppath = str(tmp_path / "plain.parquet")
    enc = str(tmp_path / "enc.pare")
    dec = str(tmp_path / "dec.parquet")
    mk = f"kf={MASTER['kf'].hex()},kc={MASTER['kc'].hex()}"
    main(["encrypt-parquet", ppath, "--out", enc, "--master-key", mk,
          "--column-master", "tag=kc", "--external-material"])
    out = capsys.readouterr().out
    assert "_KEY_MATERIAL_FOR_enc.pare.json" in out
    main(["decrypt-parquet", enc, "--out", dec, "--master-key", mk])
    assert len(read_parquet_pandas(dec)) == n
    v2 = {"kf": b"FfFfFfFfFfFfFfFf", "kc": b"CcCcCcCcCcCcCcCc"}
    mk2 = f"kf={v2['kf'].hex()},kc={v2['kc'].hex()}"
    before = open(enc, "rb").read()
    main(["rotate-keys", enc, "--master-key", mk, "--new-master-key", mk2])
    assert "parquet file untouched" in capsys.readouterr().out
    assert open(enc, "rb").read() == before
    main(["decrypt-parquet", enc, "--out", dec, "--master-key", mk2])
    assert len(read_parquet_pandas(dec)) == n


@pytest.mark.parametrize("algo", ["AES_GCM_V1", "AES_GCM_CTR_V1"])
def test_keytools_plaintext_footer_mode(tmp_path, algo):
    """Keytools + plaintext-footer mode (and the GCM_CTR variant of it):
    the signing key's PKMT1 envelope rides footer_signing_key_metadata
    (FileMetaData field 9), column envelopes ride the crypto unions;
    resolve_file_keys reads a PAR1 signed-footer file with master keys
    alone; DuckDB still reads the plaintext column with NO key."""
    duckdb = pytest.importorskip("duckdb")
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain, n = _plain_file(tmp_path)
    enc = encrypt_parquet_keytools(
        plain, MASTER, "kf", {"tag": "kc"},
        plaintext_footer_mode=True, algorithm=algo)
    p = str(tmp_path / "pf.parquet")
    open(p, "wb").write(enc)
    assert enc[:4] == b"PAR1"
    fkey, ckeys = resolve_file_keys(enc, MASTER)
    assert set(ckeys) == {"tag"}
    df, _ = read_parquet_filtered_pandas(
        p, ("lt", "id", 300), footer_key=fkey, column_keys=ckeys)
    assert list(df["id"]) == list(range(300))
    assert df["tag"].iloc[5] == "t5"
    if algo == "AES_GCM_V1":
        # legacy reader, no key: the plaintext column of the SAME file.
        # (DuckDB 1.x refuses files whose footer advertises GCM_CTR even
        # for plaintext columns, so the legacy contract is GCM-only.)
        con = duckdb.connect()
        cnt = con.sql(
            f"SELECT count(*) FROM (SELECT id FROM read_parquet('{p}')) "
            "WHERE id < 300").fetchone()[0]
        con.close()
        assert cnt == 300
    # wrong masters refuse
    with pytest.raises(ValueError, match="unwrap failed"):
        resolve_file_keys(enc, {"kf": MASTER["kc"], "kc": MASTER["kf"]})


def test_resolve_file_keys_requires_supplied_aad_prefix(tmp_path):
    """A file written with supply_aad_prefix stores only a flag; key
    resolution without the prefix refuses by name, like every other
    reader, instead of failing as a wrong key."""
    plain, n = _plain_file(tmp_path)
    enc = encrypt_parquet_keytools(
        plain, MASTER, "kf", {"tag": "kc"}, aad_prefix=b"tbl/a.parquet",
        supply_aad_prefix=True)
    with pytest.raises(ValueError, match="caller-supplied aad_prefix"):
        resolve_file_keys(enc, MASTER)
    fkey, ckeys = resolve_file_keys(enc, MASTER, aad_prefix=b"tbl/a.parquet")
    assert set(ckeys) == {"tag"}


def test_gcm_ctr_arrow_interop_both_directions(tmp_path):
    """AES_GCM_CTR_V1 against arrow C++ both ways: arrow reads our
    keytools CTR file (CTR page bodies, GCM metadata modules), and we
    read an arrow-written GCM_CTR file via resolve_file_keys + the
    native filtered reader."""
    pa = pytest.importorskip("pyarrow")
    import pyarrow.parquet as papq
    pe, cf, kcfg = _crypto_factory()

    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain, n = _plain_file(tmp_path)
    enc = encrypt_parquet_keytools(
        plain, MASTER, "kf", {"tag": "kc"}, algorithm="AES_GCM_CTR_V1")
    from pq_engine.interop.parquet_crypto import read_crypto_footer
    assert read_crypto_footer(enc)["algorithm"] == "AES_GCM_CTR_V1"
    p = str(tmp_path / "ours_ctr.pare")
    open(p, "wb").write(enc)
    got = papq.ParquetFile(
        p, decryption_properties=cf.file_decryption_properties(kcfg)).read()
    assert got.num_rows == n and got.column("tag")[5].as_py() == "t5"

    ec = pe.EncryptionConfiguration(
        footer_key="kf", column_keys={"kc": ["tag"]}, double_wrapping=True,
        encryption_algorithm="AES_GCM_CTR_V1")
    tab = pa.table({"id": np.arange(n, dtype=np.int64),
                    "tag": [f"t{i % 7}" for i in range(n)]})
    p2 = str(tmp_path / "arrow_ctr.parquet")
    with papq.ParquetWriter(
            p2, tab.schema,
            encryption_properties=cf.file_encryption_properties(
                kcfg, ec)) as w:
        w.write_table(tab)
    buf = open(p2, "rb").read()
    fkey, ckeys = resolve_file_keys(buf, MASTER)
    df, _ = read_parquet_filtered_pandas(
        buf, ("lt", "id", 100), footer_key=fkey, column_keys=ckeys)
    assert len(df) == 100 and df["tag"].iloc[5] == "t5"


def test_cli_keytools_commands(tmp_path, capsys):
    """encrypt-parquet --master-key / decrypt-parquet --master-key /
    rotate-keys: the whole keytools lifecycle from the command line —
    no raw DEK is ever typed."""
    from pq_engine.cli import main
    from pq_engine.interop.parquet_reader import read_parquet_pandas

    plain, n = _plain_file(tmp_path)
    ppath = str(tmp_path / "plain.parquet")
    enc = str(tmp_path / "enc.pare")
    dec = str(tmp_path / "dec.parquet")
    rot = str(tmp_path / "rot.pare")
    mk = f"kf={MASTER['kf'].hex()},kc={MASTER['kc'].hex()}"
    main(["encrypt-parquet", ppath, "--out", enc, "--master-key", mk,
          "--footer-master", "kf", "--column-master", "tag=kc"])
    assert open(enc, "rb").read()[:4] == b"PARE"
    out = capsys.readouterr().out
    assert "double-wrap" in out and "1 column master(s)" in out
    main(["decrypt-parquet", enc, "--out", dec, "--master-key", mk])
    assert len(read_parquet_pandas(dec)) == n

    v2 = {"kf": b"FfFfFfFfFfFfFfFf", "kc": b"CcCcCcCcCcCcCcCc"}
    mk2 = f"kf={v2['kf'].hex()},kc={v2['kc'].hex()}"
    main(["rotate-keys", enc, "--out", rot,
          "--master-key", mk, "--new-master-key", mk2])
    assert "data region untouched" in capsys.readouterr().out
    # old masters fail, new masters decrypt
    with pytest.raises(ValueError, match="unwrap failed"):
        main(["decrypt-parquet", rot, "--out", dec, "--master-key", mk])
    main(["decrypt-parquet", rot, "--out", dec, "--master-key", mk2])
    assert len(read_parquet_pandas(dec)) == n
    # unknown column master id refuses
    with pytest.raises(SystemExit, match="unknown master id"):
        main(["encrypt-parquet", ppath, "--out", enc, "--master-key", mk,
              "--column-master", "tag=zz"])
    # --algorithm AES_GCM_CTR_V1 flows through the keytools path
    main(["encrypt-parquet", ppath, "--out", enc, "--master-key", mk,
          "--algorithm", "AES_GCM_CTR_V1"])
    from pq_engine.interop.parquet_crypto import read_crypto_footer
    assert read_crypto_footer(
        open(enc, "rb").read())["algorithm"] == "AES_GCM_CTR_V1"
    main(["decrypt-parquet", enc, "--out", dec, "--master-key", mk])
    assert len(read_parquet_pandas(dec)) == n


def test_cli_keytools_plaintext_footer(tmp_path, capsys):
    """CLI: --plaintext-footer + --master-key writes a PAR1 signed-footer
    file with keytools envelopes; keys resolve from masters alone."""
    from pq_engine.cli import main
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain, n = _plain_file(tmp_path)
    ppath = str(tmp_path / "plain.parquet")
    enc = str(tmp_path / "pf.parquet")
    mk = f"kf={MASTER['kf'].hex()},kc={MASTER['kc'].hex()}"
    main(["encrypt-parquet", ppath, "--out", enc, "--master-key", mk,
          "--column-master", "tag=kc", "--plaintext-footer"])
    buf = open(enc, "rb").read()
    assert buf[:4] == b"PAR1"
    fkey, ckeys = resolve_file_keys(buf, MASTER)
    df, _ = read_parquet_filtered_pandas(
        enc, ("ge", "id", 0), footer_key=fkey, column_keys=ckeys)
    assert len(df) == n
    with pytest.raises(SystemExit, match="column-master"):
        main(["encrypt-parquet", ppath, "--out", enc, "--master-key", mk,
              "--plaintext-footer"])


def test_cli_rotate_keys_folder(tmp_path, capsys):
    """KeyToolkit.rotateMasterKeys(folderPath) semantics: rotate-keys on
    a DIRECTORY rotates every parquet file — external-material files via
    their side files (parquet bytes untouched), internal-material files
    in place (atomic temp+rename)."""
    from pq_engine.cli import main
    from pq_engine.interop.parquet_keytools import write_key_material_store
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain, n = _plain_file(tmp_path)
    d = tmp_path / "warehouse"
    d.mkdir()
    # one internal-material file, one external-material file
    open(str(d / "a.pare"), "wb").write(
        encrypt_parquet_keytools(plain, MASTER, "kf", {"tag": "kc"}))
    store: dict = {}
    enc_b = encrypt_parquet_keytools(
        plain, MASTER, "kf", {"tag": "kc"}, material_store=store)
    open(str(d / "b.pare"), "wb").write(enc_b)
    write_key_material_store(str(d / "b.pare"), store)

    v2 = {"kf": b"FfFfFfFfFfFfFfFf", "kc": b"CcCcCcCcCcCcCcCc"}
    mk = f"kf={MASTER['kf'].hex()},kc={MASTER['kc'].hex()}"
    mk2 = f"kf={v2['kf'].hex()},kc={v2['kc'].hex()}"
    main(["rotate-keys", str(d), "--master-key", mk,
          "--new-master-key", mk2])
    out = capsys.readouterr().out
    assert "rotated 2 file(s)" in out and "parquet file untouched" in out
    # external file's parquet bytes untouched; both readable with v2 only
    assert open(str(d / "b.pare"), "rb").read() == enc_b
    for name in ("a.pare", "b.pare"):
        buf = open(str(d / name), "rb").read()
        st = None
        if name == "b.pare":
            from pq_engine.interop.parquet_keytools import (
                read_key_material_store,
            )
            st = read_key_material_store(str(d / name))
        with pytest.raises(ValueError, match="unwrap failed"):
            resolve_file_keys(buf, MASTER, material_store=st)
        fkey, ckeys = resolve_file_keys(buf, v2, material_store=st)
        df, _ = read_parquet_filtered_pandas(
            buf, ("ge", "id", 0), footer_key=fkey, column_keys=ckeys)
        assert len(df) == n
    assert not (d / "a.pare.rotate-tmp").exists()


def test_rotate_master_keys(tmp_path):
    """KeyToolkit.rotateMasterKeys analog for INTERNAL key material:
    every DEK is re-wrapped under new master key bytes (same ids); no
    data byte changes; old masters stop working; new masters read the
    same rows. Both wrap modes."""
    from pq_engine.interop.parquet_keytools import rotate_master_keys
    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    plain, n = _plain_file(tmp_path)
    v2 = {"kf": b"FfFfFfFfFfFfFfFf", "kc": b"CcCcCcCcCcCcCcCc"}
    for dw in (False, True):
        enc = encrypt_parquet_keytools(
            plain, MASTER, "kf", {"tag": "kc"}, double_wrapping=dw)
        rot = rotate_master_keys(enc, MASTER, v2, double_wrapping=not dw)
        # the data region (everything before FileCryptoMetaData) is
        # byte-identical — rotation rewrites only the tail
        import struct as _s
        clen_old = _s.unpack_from("<I", enc, len(enc) - 8)[0]
        clen_new = _s.unpack_from("<I", rot, len(rot) - 8)[0]
        assert enc[: len(enc) - 8 - clen_old] == rot[: len(rot) - 8 - clen_new]
        # old masters now fail loudly at unwrap
        with pytest.raises(ValueError, match="unwrap failed"):
            resolve_file_keys(rot, MASTER)
        # new masters read identical data
        fkey, ckeys = resolve_file_keys(rot, v2)
        df, _ = read_parquet_filtered_pandas(
            rot, ("ge", "id", 0), footer_key=fkey, column_keys=ckeys)
        assert len(df) == n and int(df["id"].sum()) == n * (n - 1) // 2


def test_pyarrow_reads_rotated_file(tmp_path):
    """After rotation, arrow's CryptoFactory (new master keys) still
    reads the file — the rewritten envelopes and re-encrypted footer
    module are spec-valid, not just self-consistent."""
    import pyarrow.parquet as papq
    pe, cf, kcfg = _crypto_factory()
    from pq_engine.interop.parquet_keytools import rotate_master_keys

    plain, n = _plain_file(tmp_path)
    enc = encrypt_parquet_keytools(plain, MASTER, "kf", {"tag": "kc"},
                                   double_wrapping=True)
    v2 = {"kf": b"FfFfFfFfFfFfFfFf", "kc": b"CcCcCcCcCcCcCcCc"}
    rot = rotate_master_keys(enc, MASTER, v2, double_wrapping=True)
    p = str(tmp_path / "rot.parquet")
    open(p, "wb").write(rot)
    MASTER_SAVE = dict(MASTER)
    try:
        MASTER.update(v2)  # the KMS client reads module-level MASTER
        got = papq.ParquetFile(
            p,
            decryption_properties=cf.file_decryption_properties(
                kcfg)).read()
        assert got.num_rows == n
        assert got.column("tag")[6].as_py() == "t6"
    finally:
        MASTER.clear()
        MASTER.update(MASTER_SAVE)


def _crypto_factory():
    pe = pytest.importorskip("pyarrow.parquet.encryption")

    class Kms(pe.KmsClient):
        def __init__(self, config):
            pe.KmsClient.__init__(self)

        def wrap_key(self, key_bytes, master_key_identifier):
            return wrap_key_locally(
                key_bytes, MASTER[master_key_identifier],
                master_key_identifier)

        def unwrap_key(self, wrapped_key, master_key_identifier):
            return unwrap_key_locally(
                wrapped_key, MASTER[master_key_identifier],
                master_key_identifier)

    return pe, pe.CryptoFactory(lambda c: Kms(c)), pe.KmsConnectionConfig()


@pytest.mark.parametrize("double_wrapping", [False, True])
def test_pyarrow_reads_our_keytools_file(tmp_path, double_wrapping):
    """Direction B: arrow C++ (CryptoFactory + our KeyToolkit-compatible
    KMS client) opens OUR PARE file — footer key material in
    FileCryptoMetaData, column key material in each chunk's
    ENCRYPTION_WITH_COLUMN_KEY, encrypted_column_metadata present,
    compressed_page_size = ciphertext module length (the spec
    convention)."""
    import pyarrow.parquet as papq
    pe, cf, kcfg = _crypto_factory()

    plain, n = _plain_file(tmp_path)
    enc = encrypt_parquet_keytools(plain, MASTER, "kf", {"tag": "kc"},
                                   double_wrapping=double_wrapping)
    p = str(tmp_path / "ours.parquet")
    open(p, "wb").write(enc)
    got = papq.ParquetFile(
        p, decryption_properties=cf.file_decryption_properties(kcfg)).read()
    assert got.num_rows == n
    assert got.column("id").to_pylist() == list(range(n))
    assert got.column("tag")[5].as_py() == "t5"


@pytest.mark.parametrize("double_wrapping", [False, True])
def test_we_read_pyarrow_cryptofactory_file(tmp_path, double_wrapping):
    """Direction A: a pyarrow CryptoFactory-encrypted file (column-key
    subset => the unlisted column is PLAINTEXT in arrow's contract) is
    fully readable from the file + master keys alone via
    resolve_file_keys + the native filtered reader."""
    pa = pytest.importorskip("pyarrow")
    import pyarrow.parquet as papq
    pe, cf, kcfg = _crypto_factory()

    from pq_engine.interop.parquet_reader import read_parquet_filtered_pandas

    n = 2000
    tab = pa.table({"id": np.arange(n, dtype=np.int64),
                    "tag": [f"t{i % 7}" for i in range(n)]})
    ec = pe.EncryptionConfiguration(
        footer_key="kf", column_keys={"kc": ["tag"]},
        double_wrapping=double_wrapping)
    p = str(tmp_path / "arrow.parquet")
    with papq.ParquetWriter(
            p, tab.schema,
            encryption_properties=cf.file_encryption_properties(
                kcfg, ec)) as w:
        w.write_table(tab)
    buf = open(p, "rb").read()
    fkey, ckeys = resolve_file_keys(buf, MASTER)
    assert set(ckeys) == {"tag"}
    df, _ = read_parquet_filtered_pandas(
        buf, ("lt", "id", 100), footer_key=fkey, column_keys=ckeys)
    assert len(df) == 100 and df["tag"].iloc[5] == "t5"

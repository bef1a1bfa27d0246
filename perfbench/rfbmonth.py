"""Seeded synthetic Receita Federal CNPJ monthly drop.

Writes a 37-zip month shaped like a real portal drop behind a
``file://`` listing: Empresas0-9, Estabelecimentos0-9, Socios0-9,
Simples and the six dimension tables (Cnaes, Motivos, Municipios,
Naturezas, Paises, Qualificacoes). Each zip holds one headerless,
``;``-separated, fully quoted member whose name routes to its table by
suffix, as on the portal. Member encodings are mixed (utf-8,
utf-8 with BOM, latin-1, cp1252).

Faults are injected in counts known exactly, and returned in
``Month.expected``:

- shifted-column rows (an unquoted ``;`` inside a name: one token too
  many) in empresas, estabelecimentos and socios -> quarantined;
- empty essential ``cnpj_basico`` in simples -> that load must fail its
  null check, and only that one;
- orphan ``cnpj_basico`` keys in estabelecimentos and socios, absent
  from empresas -> ``validate.v4_referential``;
- duplicated ``(cnpj_basico, cnpj_ordem, cnpj_dv)`` keys in
  estabelecimentos -> ``validate.v5_duplicate_keys``.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import random
import shutil
import zipfile
from collections import Counter
from dataclasses import dataclass, field

# members carrying CP1252_MARK are written in cp1252; the others rotate
# through these
ENCODINGS = ("utf-8", "utf-8-sig", "latin-1")
# (zip stem, member suffix, table, rows)
DIMENSIONS = (
    ("Cnaes", "CNAECSV", "rfb_cnaes", 60),
    ("Motivos", "MOTICSV", "rfb_motivos", 30),
    ("Municipios", "MUNICCSV", "rfb_municipios", 120),
    ("Naturezas", "NATJUCSV", "rfb_naturezas", 40),
    ("Paises", "PAISCSV", "rfb_paises", 50),
    ("Qualificacoes", "QUALSCSV", "rfb_qualificacoes", 35),
)
UFS = ("SP", "RJ", "MG", "RS", "PR", "BA", "PE", "CE", "GO", "SC", "DF", "AM")
WORDS = (
    "COMERCIO", "SERVICOS", "AÇÃO", "INDÚSTRIA", "PARTICIPAÇÕES",
    "CONSTRUÇÃO", "TRANSPORTES", "ALIMENTOS", "SÃO", "JOÃO", "MÉDICA",
    "DISTRIBUIDORA", "TECNOLOGIA", "AGRÍCOLA",
)
# Needs cp1252 (0x96): marks the cp1252 members for the sniffer.
CP1252_MARK = "–"


@dataclass
class Month:
    """A generated drop: where it is, and what loading it must yield."""

    portal: str
    listing_url: str
    zips: list[str]
    csv_bytes: int
    expected: dict = field(default_factory=dict)


def _line(values: list[str]) -> str:
    return ";".join(f'"{v}"' for v in values)


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1990, 2023)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"


def _name(rng: random.Random, i: int, cp1252: bool) -> str:
    w = " ".join(rng.choice(WORDS) for _ in range(2))
    mark = f" {CP1252_MARK} ME" if cp1252 else ""
    return f"{w} {i}{mark} LTDA"


def generate_month(
    out_dir: str,
    seed: int,
    ref_ym: str,
    rows_per_part: int,
) -> Month:
    """Write one month under ``out_dir/portal`` and return its
    expectations. ``rows_per_part`` is the number of well-formed
    empresas per Empresas part; establishments and partners scale with
    it."""
    rng = random.Random(seed * 1_000_003 + int(ref_ym))
    portal = os.path.join(out_dir, "portal")
    shutil.rmtree(portal, ignore_errors=True)
    os.makedirs(portal)

    n_emp = 10 * rows_per_part
    # 8-digit ids; the unused half of the space supplies orphan keys
    ids = rng.sample(range(10**8 // 2), n_emp)
    orphan_pool = iter(rng.sample(range(10**8 // 2, 10**8), n_emp + 16))

    files: list[tuple[str, str, str, list[str]]] = []  # (zip, member, table, lines)
    expected_rows: dict[str, int] = {}
    expected_corrupt: dict[str, int] = {}
    stamp = f"D{ref_ym[2:]}15"

    def member(stem: str, part: int | None, suffix: str) -> tuple[str, str]:
        tag = "" if part is None else str(part)
        return f"{stem}{tag}.zip", f"K3241.K0320{stem[:3].upper()}{tag}.{stamp}.{suffix}"

    # ---- dimensions
    dim_codes: dict[str, list[str]] = {}
    for stem, suffix, table, n in DIMENSIONS:
        codes = [f"{c:04d}" for c in rng.sample(range(1, 9999), n)]
        dim_codes[table] = codes
        lines = [_line([c, f"{stem.upper()} {rng.choice(WORDS)} {c}"]) for c in codes]
        z, m = member(stem, None, suffix)
        files.append((z, m, table, lines))
        expected_rows[table] = n
        expected_corrupt[table] = 0

    def code(table: str) -> str:
        return rng.choice(dim_codes[table])

    # ---- empresas
    emp_corrupt = 0
    emp_rows = 0
    accent_rows = cp1252_rows = 0
    for part in range(10):
        z, m = member("Empresas", part, "EMPRECSV")
        cp = part % 4 == 3
        lines = []
        for i in range(part * rows_per_part, (part + 1) * rows_per_part):
            name = _name(rng, i, cp)
            accent_rows += "AÇÃO" in name
            cp1252_rows += CP1252_MARK in name
            lines.append(
                _line(
                    [
                        f"{ids[i]:08d}", name, code("rfb_naturezas"),
                        code("rfb_qualificacoes"),
                        f"{rng.randint(0, 10**7)},{rng.randint(0, 99):02d}",
                        rng.choice(("00", "01", "03", "05")), "",
                    ]
                )
            )
        # shifted column: an unquoted ';' splits the name in two
        for j in range(1 + part % 3):
            lines.insert(
                rng.randrange(len(lines) + 1),
                f'"{rng.randrange(10**8):08d}";"SHIFTED";"NAME {j}";"2062";"49";"0,00";"01";""',
            )
            emp_corrupt += 1
        emp_rows += len(lines)
        files.append((z, m, "rfb_empresas", lines))
    expected_rows["rfb_empresas"] = emp_rows
    expected_corrupt["rfb_empresas"] = emp_corrupt

    # ---- estabelecimentos: 1-3 per company, plus orphans and duplicates
    est_keys: list[list[str]] = []
    for i in range(n_emp):
        dv_base = rng.randrange(100)
        for ordem in range(1, rng.randint(1, 3) + 1):
            est_keys.append([f"{ids[i]:08d}", f"{ordem:04d}", f"{(dv_base + ordem) % 100:02d}"])
    orphan_keys = set()
    for _ in range(max(1, n_emp // 50)):
        k = f"{next(orphan_pool):08d}"
        orphan_keys.add(k)
        for ordem in range(1, rng.randint(1, 3) + 1):
            est_keys.append([k, f"{ordem:04d}", f"{ordem:02d}"])
    for idx in rng.sample(range(len(est_keys)), max(1, len(est_keys) // 40)):
        est_keys.extend([list(est_keys[idx])] * rng.randint(1, 2))
    rng.shuffle(est_keys)

    def est_row(key: list[str], cp: bool) -> list[str]:
        ordem = key[1]
        return key + [
            "1" if ordem == "0001" else "2",
            _name(rng, int(key[0]) % 997, cp) if rng.random() < 0.5 else "",
            rng.choice(("02", "04", "08")), _date(rng), code("rfb_motivos"), "",
            code("rfb_paises") if rng.random() < 0.05 else "", _date(rng),
            code("rfb_cnaes"),
            ",".join(code("rfb_cnaes") for _ in range(rng.randint(0, 3))),
            "RUA", f"{rng.choice(WORDS)} {rng.randint(1, 500)}",
            str(rng.randint(1, 9999)), "", "CENTRO", f"{rng.randrange(10**8):08d}",
            rng.choice(UFS), code("rfb_municipios"), "11",
            f"{rng.randrange(10**8):08d}", "", "", "", "",
            f"contato{rng.randint(1, 9999)}@exemplo.com.br", "", "",
        ]

    est_corrupt = 0
    chunk = -(-len(est_keys) // 10)
    for part in range(10):
        z, m = member("Estabelecimentos", part, "ESTABELE")
        cp = part % 4 == 3
        lines = [_line(est_row(k, cp)) for k in est_keys[part * chunk : (part + 1) * chunk]]
        for _ in range(1 + part % 2):
            bad = est_row([f"{rng.randrange(10**8):08d}", "0001", "00"], cp)
            bad[4] = 'LOJA";"SHIFTED'  # unquoted ';' -> 31 tokens
            lines.insert(rng.randrange(len(lines) + 1), _line(bad))
            est_corrupt += 1
        files.append((z, m, "rfb_estabelecimentos", lines))
    expected_rows["rfb_estabelecimentos"] = len(est_keys) + est_corrupt
    expected_corrupt["rfb_estabelecimentos"] = est_corrupt

    # ---- socios: 0-2 per company, plus orphans
    soc_rows: list[list[str]] = []
    for i in range(n_emp):
        for _ in range(rng.randint(0, 2)):
            soc_rows.append([f"{ids[i]:08d}"])
    for _ in range(max(1, n_emp // 80)):
        k = f"{next(orphan_pool):08d}"
        orphan_keys.add(k)
        soc_rows.extend([[k]] * rng.randint(1, 2))
    rng.shuffle(soc_rows)

    def soc_row(basico: str) -> list[str]:
        return [
            basico, rng.choice(("1", "2", "3")),
            f"{rng.choice(WORDS)} {rng.choice(WORDS)} SILVA",
            f"***{rng.randrange(10**6):06d}**", code("rfb_qualificacoes"),
            _date(rng), "", "***000000**", "", "00", str(rng.randint(0, 9)),
        ]

    soc_corrupt = 0
    chunk = -(-len(soc_rows) // 10)
    for part in range(10):
        z, m = member("Socios", part, "SOCIOCSV")
        lines = [_line(soc_row(r[0])) for r in soc_rows[part * chunk : (part + 1) * chunk]]
        if part % 2 == 0:
            bad = soc_row(f"{rng.randrange(10**8):08d}")
            bad[2] = 'MARIA";"SHIFTED'
            lines.insert(rng.randrange(len(lines) + 1), _line(bad))
            soc_corrupt += 1
        files.append((z, m, "rfb_socios", lines))
    expected_rows["rfb_socios"] = len(soc_rows) + soc_corrupt
    expected_corrupt["rfb_socios"] = soc_corrupt

    # ---- simples: one part, with empty essential cnpj_basico rows
    simples = []
    for i in rng.sample(range(n_emp), n_emp // 2):
        mei = rng.random() < 0.3
        simples.append(
            _line([f"{ids[i]:08d}", "S", _date(rng), "", "S" if mei else "N",
                   _date(rng) if mei else "", ""])
        )
    n_null_simples = max(1, n_emp // 200)
    for _ in range(n_null_simples):
        simples.insert(rng.randrange(len(simples) + 1), _line(["", "S", _date(rng), "", "N", "", ""]))
    z, m = member("Simples", None, "SIMPLES")
    files.append((z, m, "rfb_simples", simples))
    expected_rows["rfb_simples"] = len(simples)
    expected_corrupt["rfb_simples"] = 0

    # ---- write members with mixed encodings, zip each, list them
    csv_bytes = 0
    zips = []
    encodings: dict[str, str] = {}
    for k, (z, m, table, lines) in enumerate(files):
        cp = any(CP1252_MARK in ln for ln in lines)
        enc = "cp1252" if cp else ENCODINGS[(k + seed) % len(ENCODINGS)]
        encodings[m] = enc
        data = ("\n".join(lines) + "\n").encode(enc)
        csv_bytes += len(data)
        with zipfile.ZipFile(os.path.join(portal, z), "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr(m, data)
        zips.append(z)
    with open(os.path.join(portal, "index.html"), "w", encoding="utf-8") as f:
        f.write(
            "<html><body><h1>Index of /dados_abertos_cnpj</h1>"
            + "".join(f'<a href="{z}">{z}</a><br>' for z in zips)
            + "</body></html>"
        )

    def orphans(rows: list[list[str]]) -> tuple[int, int]:
        hits = Counter(r[0] for r in rows if r[0] in orphan_keys)
        return len(hits), sum(hits.values())

    key_copies = Counter(tuple(k) for k in est_keys)
    dups = [n for n in key_copies.values() if n > 1]
    failing_tables = {"rfb_simples"}
    return Month(
        portal=portal,
        listing_url="file://" + os.path.join(portal, "index.html"),
        zips=zips,
        csv_bytes=csv_bytes,
        expected={
            "rows": expected_rows,
            "corrupt": expected_corrupt,
            "null_essentials": {"rfb_simples": {"cnpj_basico": n_null_simples}},
            "failing_tables": sorted(failing_tables),
            "zip_status": {
                z: ("falhou" if t in failing_tables else "sucesso")
                for z, _, t, _ in files
            },
            # (distinct orphan keys, orphan rows)
            "orphans": {
                "rfb_estabelecimentos": orphans(est_keys),
                "rfb_socios": orphans(soc_rows),
            },
            # (duplicated keys, rows carrying them)
            "duplicate_keys": (len(dups), sum(dups)),
            # well-formed empresas names carrying 'AÇÃO' / the cp1252 mark
            "accent_rows": accent_rows,
            "cp1252_rows": cp1252_rows,
            "encodings": encodings,
        },
    )


def file_fetch(url: str) -> str:
    """``RunConfig.fetch`` hook: read a ``file://`` listing."""
    if not url.startswith("file://"):
        raise ValueError(f"not a file:// url: {url}")
    with open(url[len("file://") :], encoding="utf-8") as f:
        return f.read()


def file_stream(url: str, dest: str) -> int:
    """``RunConfig.stream`` hook: copy a ``file://`` zip to ``dest``."""
    if not url.startswith("file://"):
        raise ValueError(f"not a file:// url: {url}")
    shutil.copyfile(url[len("file://") :], dest)
    return os.path.getsize(dest)

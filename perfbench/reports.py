"""Seeded ERP report-file generator and the record-level ingest oracle.

The generator writes report files in the wire format `ReportFormat` parses
(`key: value` lines, a block ends at its `status` line) and records, per
file, the records a correct ingest must produce. The seed varies blocks per
file, the mix of small and large files, CRLF and BOM line endings, `:`
inside values, duplicate keys, keys without a value and unterminated
trailing blocks."""
import csv
import glob
import os
import random
import re
from collections import Counter

import duckdb

# output column -> source key, in output order (ingest.ReportSchemas.erpColumns)
ERP_COLUMNS = [
    ("MODULO", None), ("TIPO_DE_REPORTE", None), ("RUTA_DE_REPORTE", None),
    ("FECHA_DE_GENERACION_DE_REPORTE", None), ("ARCHIVO_PROCESADO", "file"),
    ("NOMBRE_DE_TABLA_ASIGNADO_EN_LANDING_RAW_POR_ARCHIVO", "tableNameFromFile"),
    ("NOMBRE_DE_TABLA_ASIGNADO_EN_LOS_PARAMETROS", "tableNameFromJson"),
    ("CABECERA_ASIGNADA", "headersFromJson"),
    ("CONTEO_CABECERA_ASIGNADO_ENVIADO_POR_EL_SISTEMA", "countHeadersFromJson"),
    ("CONTEO_CABECERA_POR_ARCHIVO", "countHeadersFromFile"),
    ("CABECERA_IDENTIFICADA_EN_EL_ARCHIVO", "headersFromFile"),
    ("CABECERAS_IGUALES", "equalsHeaders"), ("NOMBRE_DE_DIRECTORIO", "fileDirectory"),
    ("RUTA_EN_LANDING_RAW_ARCHIVO_SIN_TRANSFORMAR", "filePath"),
    ("TAMANO_DE_ARCHIVO_BYTES", "fileSize"), ("VALIDACION_SHA", "fileValidSha"),
    ("FORMATO_DE_ALMACENAMIENTO_DE_ARCHIVO_TRANSFORMADO", "fileColForSchema"),
    ("NOMBRE_TABLA", "fileTableName"), ("RUTA_EN_LANDINGRAW", "fileColForPathTable"),
    ("TOTAL_COLUMNAS_PREPARACION_DE_MARCO_DE_DATOS", "fileAntColForCountColumns"),
    ("TOTAL_REGISTROS_PREPARACION_DE_MARCO_DE_DATOS", "fileAntColForCountRows"),
    ("DIFERENCIA_TOTAL_COLUMNAS", None), ("DIFERENCIA_TOTAL_REGISTROS", None),
    ("TOTAL_COLUMNAS_OFICIAL", "fileColForCountColumns"),
    ("TOTAL_REGISTROS_OFICIAL", "fileColForCountRows"),
    ("ESTADO_DEL_PROCESO", "status"), ("GENERATION_DATE", None),
]
# compared columns: GENERATION_DATE is the run's clock, so it is ignored
COMPARED = [c for c, _ in ERP_COLUMNS if c != "GENERATION_DATE"]


def _block(rnd, i):
    cols = rnd.randint(3, 40)
    prep_rows = rnd.randint(0, 10 ** 6)
    fields = [
        ("file", f"data_{i}.csv"),
        ("tableNameFromFile", f"tbl_{i % 997}"),
        ("tableNameFromJson", f"tbl_json_{i % 997}"),
        ("headersFromJson", ",".join(f"c{k}" for k in range(min(cols, 6)))),
        ("countHeadersFromJson", str(cols)),
        ("countHeadersFromFile", str(cols - rnd.choice([0, 0, 0, 1]))),
        ("headersFromFile", ",".join(f"c{k}" for k in range(min(cols, 6)))),
        ("equalsHeaders", rnd.choice(["true", "false", "true"])),
        ("fileDirectory", f"/landing/dir_{i % 53}"),
        ("filePath", f"hdfs://nn:8020/landing/raw/data_{i}.csv"),
        ("fileSize", str(rnd.randint(100, 10 ** 8))),
        ("fileValidSha", rnd.choice(["OK", "OK", "KO"])),
        ("fileColForSchema", "parquet"),
        ("fileTableName", f"official_tbl_{i % 997}"),
        ("fileColForPathTable", f"/landing/raw/official/tbl_{i % 997}"),
        ("fileAntColForCountColumns", str(cols)),
        ("fileAntColForCountRows", str(prep_rows)),
        ("fileColForCountColumns", str(cols + rnd.choice([0, 0, 1, -1]))),
        ("fileColForCountRows", str(prep_rows + rnd.randint(-50, 50))),
    ]
    r = rnd.random()
    if r < 0.08:   # the header-equality flag is missing: NO
        fields = [f for f in fields if f[0] != "equalsHeaders"]
    elif r < 0.16:  # a timestamp value, with ':' inside
        fields.append(("loadedAt", f"2019-08-04 13:{rnd.randint(0, 59):02d}:{rnd.randint(0, 59):02d}"))
    elif r < 0.24:  # duplicate key: the last value wins
        k = rnd.choice(["fileSize", "fileValidSha", "tableNameFromFile"])
        fields.insert(rnd.randint(0, len(fields)), (k, "stale_value"))
        fields.append((k, f"fresh_{i}"))
    elif r < 0.28:  # a line without ':' carries no value
        fields.insert(rnd.randint(0, len(fields)), ("ENTRY WITHOUT VALUE", None))
    rnd.shuffle(fields) if rnd.random() < 0.1 else None
    fields.append(("status", rnd.choice(["FINISHED", "FINISHED", "FAILED: retry 2"])))
    return fields


def _expected(fields, fname, ts):
    kv = {}
    for k, v in fields:
        kv[k] = "" if v is None else v
    rec = {}
    for col, key in ERP_COLUMNS:
        if col == "MODULO":
            rec[col] = "ERP"
        elif col == "TIPO_DE_REPORTE":
            rec[col] = "parquet"
        elif col == "RUTA_DE_REPORTE":
            rec[col] = fname
        elif col == "FECHA_DE_GENERACION_DE_REPORTE":
            rec[col] = ts
        elif col == "CABECERAS_IGUALES":
            rec[col] = "SI" if kv.get("equalsHeaders") == "true" else "NO"
        elif col == "DIFERENCIA_TOTAL_COLUMNAS":
            rec[col] = str(int(kv["fileColForCountColumns"]) - int(kv["fileAntColForCountColumns"]))
        elif col == "DIFERENCIA_TOTAL_REGISTROS":
            rec[col] = str(int(kv["fileColForCountRows"]) - int(kv["fileAntColForCountRows"]))
        elif key is not None:
            rec[col] = kv.get(key, "")
    return tuple(rec[c] for c in COMPARED)


def _render(rnd, blocks, trailing):
    eol = "\r\n" if rnd.random() < 0.25 else "\n"
    lines = []
    for b in blocks:
        for k, v in b:
            pad = " " * rnd.choice([0, 0, 0, 1, 2])
            lines.append(k if v is None else f"{pad}{k}{pad}: {v}{pad}")
        if rnd.random() < 0.3:
            lines.append("")
    lines += [f"{k}: {v}" for k, v in trailing]
    text = eol.join(lines) + (eol if rnd.random() < 0.5 else "")
    return ("\ufeff" if rnd.random() < 0.15 else "") + text


def _block_counts(rnd, n_files, n_records):
    """Seeded blocks per file (80 % small files of 0-5 blocks, 20 % large of
    20-60), nudged one block at a time until they sum to `n_records`, so
    every seed ingests the same number of records."""
    counts = [rnd.randint(20, 60) if rnd.random() < 0.2 else rnd.randint(0, 5)
              for _ in range(n_files)]
    while sum(counts) != n_records:
        i = rnd.randrange(n_files)
        if sum(counts) < n_records:
            counts[i] += 1
        elif counts[i] > 0:
            counts[i] -= 1
    return counts


def write_reports(dirname, n_files, n_records, seed, first_id=0):
    """Write `n_files` report files holding `n_records` records; returns
    (expected records, bytes written)."""
    os.makedirs(dirname, exist_ok=True)
    rnd = random.Random(seed)
    expected, nbytes, rec_id = [], 0, first_id * 1000
    for f, nblocks in enumerate(_block_counts(rnd, n_files, n_records), start=first_id):
        day, sec = 1 + f % 28, f % 60
        stamp = f"{day:02d}-08-2019T13_51_{sec:02d}"
        fname = f"ERP_{f:05d}_REPORT_PARQUET_DATE_OF_PROCESSS[{stamp}].TXT"
        ts = f"2019-08-{day:02d} 13:51:{sec:02d}"
        blocks = []
        for _ in range(nblocks):
            rec_id += 1
            blocks.append(_block(rnd, rec_id))
        # an unterminated trailing block is dropped by the parser
        trailing = _block(rnd, rec_id + 1)[:rnd.randint(1, 6)] if rnd.random() < 0.2 else []
        trailing = [(k, v) for k, v in trailing if k != "status" and v is not None]
        data = _render(rnd, blocks, trailing).encode("utf-8")
        with open(os.path.join(dirname, fname), "wb") as fh:
            fh.write(data)
        nbytes += len(data)
        expected += [_expected(b, fname, ts) for b in blocks]
    return expected, nbytes


def _basename(v):
    return re.sub(r"^.*/", "", v) if v else v


def _norm(row, names):
    d = dict(zip(names, row))
    d["RUTA_DE_REPORTE"] = _basename(d["RUTA_DE_REPORTE"])
    return tuple("" if d[c] is None else str(d[c]) for c in COMPARED)


def read_csv_dir(path):
    rows = []
    for p in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(p, newline="", encoding="utf-8") as fh:
            rd = csv.reader(fh)
            header = next(rd, None)
            if header is None:
                continue
            rows += [_norm(r, header) for r in rd]
    return rows


def read_parquet_files(files):
    if not files:
        return []
    con = duckdb.connect()
    rel = con.sql("SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) + "])")
    names = rel.columns
    return [_norm(r, names) for r in rel.fetchall()]


def compare(label, got, want):
    """Multiset compare; returns a failure message or None."""
    g, w = Counter(got), Counter(want)
    if g == w:
        return None
    missing, extra = w - g, g - w
    return (f"{label}: {len(got)} records, expected {len(want)}; "
            f"{sum(missing.values())} missing, {sum(extra.values())} unexpected")

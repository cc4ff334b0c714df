"""Local mirror of the driver's correctness gate: run oracle SQL in DuckDB,
compare against the parquet dumps from graft.Verify (sorted columns, sorted
rows, exact values).

    python3 scripts/check.py [sf_dir] [verify_out_dir]

DuckDB's memory and spill are capped so one heavy oracle query cannot fill
the disk: CHECK_MEMORY_LIMIT (default 4GB), CHECK_TEMP_DIR (default a
temporary directory, removed at exit) and CHECK_MAX_TEMP_SIZE (default 8GB)
override the caps. A query that fails (out of memory, spill cap reached)
prints `ERR <name>` and counts as a mismatch; the run goes on to the summary.
"""
import duckdb, json, math, sys, os, tempfile

sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'

spill = tempfile.TemporaryDirectory(prefix='check-duckdb-')
con = duckdb.connect(config={
    'memory_limit': os.environ.get('CHECK_MEMORY_LIMIT', '4GB'),
    'temp_directory': os.environ.get('CHECK_TEMP_DIR', spill.name),
    'max_temp_directory_size': os.environ.get('CHECK_MAX_TEMP_SIZE', '8GB'),
})
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f'{outdir}/oracle_sql.json'))
names = sorted(os.listdir(outdir))

def norm(v):
    if v is None: return None
    if isinstance(v, float):
        if math.isnan(v): return 'NaN'
        return v
    return v

ok = mismatch = 0
for name in sorted(oracle):
    spark_path = f'{outdir}/{name}'
    if not os.path.isdir(spark_path):
        print(f'MISSING {name}'); mismatch += 1; continue
    try:
        got = con.execute(f"SELECT * FROM '{spark_path}/*.parquet'").fetchdf()
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as ex:
        print(f'ERR     {name}: {type(ex).__name__}: {str(ex).splitlines()[0]}'); mismatch += 1; continue
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        print(f'SCHEMA  {name}: spark={gcols} oracle={ecols}'); mismatch += 1; continue
    # Sort the DRIVER's way: pandas sort_values on raw cell values. This
    # intentionally dies on array/map cells (unhashable numpy.ndarray) so a
    # non-scalar output fails here exactly as it fails in the official gate.
    try:
        g = got[gcols].sort_values(by=gcols).values.tolist()
        e = exp[ecols].sort_values(by=ecols).values.tolist()
    except Exception as ex:
        print(f'ERR     {name}: driver-style sort failed: {ex}'); mismatch += 1; continue
    g = sorted([tuple(str(norm(v)) for v in row) for row in g])
    e = sorted([tuple(str(norm(v)) for v in row) for row in e])
    if len(g) != len(e):
        print(f'ROWS    {name}: spark={len(g)} oracle={len(e)}'); mismatch += 1; continue
    diffs = [(i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b]
    if diffs:
        print(f'VALUES  {name}: {len(diffs)}/{len(g)} rows differ; first: spark={diffs[0][1]} oracle={diffs[0][2]}')
        mismatch += 1
    else:
        ok += 1
# rows-only entries
for name in names:
    if name in oracle or not os.path.isdir(f'{outdir}/{name}'): continue
    try:
        n = con.execute(f"SELECT count(*) FROM '{outdir}/{name}/*.parquet'").fetchone()[0]
    except Exception as ex:
        print(f'ERR     {name}: {type(ex).__name__}: {str(ex).splitlines()[0]}'); mismatch += 1; continue
    print(f'ROWSONLY {name}: {n} rows')
print(f'\n{ok} matched, {mismatch} mismatched')

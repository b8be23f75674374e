#!/usr/bin/env python3
"""Independent validator for the CF decode layer: parses the CDF-1
fixture (/tmp/graft_cf_fixture_v3.nc, written by graft.harness.Nc3CfFixture
via gates.CatalogScanGates.ensureCfFixture) with its own netCDF classic reader,
applies CF mask/scale/time decoding in plain python (datetime
arithmetic, not Spark and not DuckDB), and compares every row against
the engine's dumped load_netcdf_cf parquet.

Third implementation of both the container format and the CF
arithmetic, so an encoder/decoder matched bug pair cannot survive it.

Driver-side only (not shipped in the library). Usage:
  python3 scripts/cf_check.py [fixture.nc] [dumped_query_dir]
"""
import datetime
import glob
import math
import re
import struct
import sys


def parse_cdf1(path):
    b = open(path, 'rb').read()
    assert b[:4] == b'CDF\x01', 'not a CDF-1 file'
    pos = [4]

    def i32():
        v = struct.unpack_from('>i', b, pos[0])[0]
        pos[0] += 4
        return v

    def name():
        n = i32()
        s = b[pos[0]:pos[0] + n].decode('utf-8')
        pos[0] += (n + 3) // 4 * 4
        return s

    def atts():
        tag, n = i32(), i32()
        assert tag in (0x0c, 0) and (tag or n == 0)
        out = {}
        for _ in range(n):
            nm, t, ne = name(), i32(), i32()
            if t == 2:
                v = b[pos[0]:pos[0] + ne].decode('latin-1')
                pos[0] += (ne + 3) // 4 * 4
            elif t == 1:
                v = list(struct.unpack_from('>%db' % ne, b, pos[0]))
                pos[0] += (ne + 3) // 4 * 4
            elif t == 3:
                v = list(struct.unpack_from('>%dh' % ne, b, pos[0]))
                pos[0] += (2 * ne + 3) // 4 * 4
            elif t == 4:
                v = list(struct.unpack_from('>%di' % ne, b, pos[0]))
                pos[0] += 4 * ne
            elif t == 5:
                v = list(struct.unpack_from('>%df' % ne, b, pos[0]))
                pos[0] += (4 * ne + 3) // 4 * 4
            elif t == 6:
                v = list(struct.unpack_from('>%dd' % ne, b, pos[0]))
                pos[0] += 8 * ne
            else:
                raise AssertionError('attr type %d' % t)
            out[nm] = v if t != 2 else v
        return out

    numrecs = i32()
    assert numrecs == 0, 'fixture has no record vars'
    tag, nd = i32(), i32()
    assert tag == 0x0a
    dims = [(name(), i32()) for _ in range(nd)]
    gatts = atts()
    tag, nv = i32(), i32()
    assert tag == 0x0b
    out = {}
    for _ in range(nv):
        nm = name()
        rank = i32()
        dimids = [i32() for _ in range(rank)]
        va = atts()
        t = i32()
        i32()  # vsize
        begin = i32()
        shape = [dims[d][1] for d in dimids]
        count = 1
        for s in shape:
            count *= s
        fmt = {1: 'b', 3: 'h', 4: 'i', 5: 'f', 6: 'd'}[t]
        vals = list(struct.unpack_from('>%d%s' % (count, fmt), b, begin))
        out[nm] = (shape, va, vals, t)
    return gatts, out


UNITS_SEC = {'days': 86400, 'day': 86400, 'd': 86400,
             'hours': 3600, 'hour': 3600, 'hr': 3600, 'h': 3600,
             'minutes': 60, 'minute': 60, 'min': 60,
             'seconds': 1, 'second': 1, 'sec': 1, 's': 1,
             'milliseconds': 1e-3, 'microseconds': 1e-6,
             'weeks': 604800, 'week': 604800}


FIXED_CAL = {'noleap': [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
             '365_day': [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
             'all_leap': [31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
             '366_day': [31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
             '360_day': [30] * 12}


def fixed_cal_date(epoch_ymdhms, offset_seconds, cal):
    """Fixed CF calendar arithmetic, independent of the Scala kernel."""
    months = FIXED_CAL[cal]
    ylen = sum(months)
    ey, em, ed, eh, emi, es = epoch_ymdhms
    days0 = ey * ylen + sum(months[:em - 1]) + (ed - 1)
    micros = (days0 * 86400 + eh * 3600 + emi * 60) * 10**6 \
        + round(es * 10**6) + round(offset_seconds * 10**6)
    days, day_us = divmod(micros, 86400 * 10**6)
    year, doy = divmod(days, ylen)
    m = 0
    while doy >= months[m]:
        doy -= months[m]
        m += 1
    sec = day_us // 10**6
    return '%04d-%02d-%02d %02d:%02d:%02d' % (
        year, m + 1, doy + 1, sec // 3600, sec // 60 % 60, sec % 60)


JULIAN_CAL = ('julian', 'proleptic_julian')


def julian_cal_date(epoch_ymdhms, offset_seconds):
    """Julian-calendar arithmetic (leap every 4th year, no century rule).
    Deliberately a DIFFERENT algorithm from the engine kernel: year-by-year
    stepping instead of 1461-day cycle decomposition."""
    def leap(y):
        return y % 4 == 0

    def mlen(y):
        return [31, 29 if leap(y) else 28, 31, 30, 31, 30,
                31, 31, 30, 31, 30, 31]
    ey, em, ed, eh, emi, es = epoch_ymdhms
    days0 = sum(366 if leap(y) else 365 for y in range(ey))
    days0 += sum(mlen(ey)[:em - 1]) + (ed - 1)
    micros = (days0 * 86400 + eh * 3600 + emi * 60) * 10**6 \
        + round(es * 10**6) + round(offset_seconds * 10**6)
    days, day_us = divmod(micros, 86400 * 10**6)
    year = 0
    while days >= (366 if leap(year) else 365):
        days -= 366 if leap(year) else 365
        year += 1
    m, ml = 0, mlen(year)
    while days >= ml[m]:
        days -= ml[m]
        m += 1
    sec = day_us // 10**6
    return '%04d-%02d-%02d %02d:%02d:%02d' % (
        year, m + 1, days + 1, sec // 3600, sec // 60 % 60, sec % 60)


def parse_epoch(ds):
    for fmt in ('%Y-%m-%d %H:%M:%S', '%Y-%m-%d'):
        try:
            e = datetime.datetime.strptime(ds, fmt)
            return (e.year, e.month, e.day, e.hour, e.minute, float(e.second))
        except ValueError:
            pass
    raise AssertionError('unparsed epoch %r' % ds)


def cf_decode(shape, va, vals, nctype):
    """-> list of (coord_key, value_or_None, time_str_or_None)."""
    scale = va.get('scale_factor', [1.0])[0] if 'scale_factor' in va else 1.0
    offset = va.get('add_offset', [0.0])[0] if 'add_offset' in va else 0.0
    # netCDF-3 _Unsigned: reinterpret signed stored ints (and the fill
    # attrs, identically) as unsigned BEFORE mask/unpack
    flag = va.get('_Unsigned')
    unsigned = isinstance(flag, str) and flag.lower() == 'true'
    # the symmetric "false" direction narrows unsigned stored dtypes
    # (7=ubyte, 8=ushort, 9=uint in CDF-5), mirroring the engine
    signed = isinstance(flag, str) and flag.lower() == 'false'
    span = {1: 2**8, 3: 2**16, 4: 2**32,
            7: 2**8, 8: 2**16, 9: 2**32}.get(nctype)

    def reinterp(x):
        if unsigned and span and nctype in (1, 3, 4) and x < 0:
            return x + span
        if signed and span and nctype in (7, 8, 9) and x >= span // 2:
            return x - span
        return x
    fills = []
    for k in ('_FillValue', 'missing_value'):
        if k in va and not isinstance(va[k], str):
            fills.append(float(reinterp(va[k][0])))
    units = va.get('units')
    epoch = unit_sec = cal = None
    # case-insensitive like the engine's (?i) units grammar — 'Days Since'
    # must decode, not silently fall through to the identity path
    m_units = re.match(r'\s*([A-Za-z]+)\s+since\s+(.*)$', units, re.IGNORECASE) \
        if isinstance(units, str) else None
    if m_units:
        unit_sec = UNITS_SEC[m_units.group(1).lower()]
        epoch = parse_epoch(m_units.group(2).strip())
        cal = va.get('calendar', 'standard')
        assert cal in ('standard', 'gregorian', 'proleptic_gregorian') \
            or cal in FIXED_CAL or cal in JULIAN_CAL, cal
    rows = []
    for flat, raw in enumerate(vals):
        coords, rem = [], flat
        for s in reversed(shape):
            coords.append(rem % s)
            rem //= s
        key = '.'.join(str(c) for c in reversed(coords))
        rawr = float(reinterp(raw))
        if any(rawr == f or (math.isnan(f) and math.isnan(rawr))
               for f in fills):
            rows.append((key, None, None))
            continue
        v = rawr * scale + offset
        ts = None
        if epoch is not None:
            if cal in FIXED_CAL:
                ts = fixed_cal_date(epoch, v * unit_sec, cal)
            elif cal in JULIAN_CAL:
                ts = julian_cal_date(epoch, v * unit_sec)
            else:
                ey, em, ed, eh, emi, es = epoch
                base = datetime.datetime(ey, em, ed, eh, emi, int(es))
                ts = (base + datetime.timedelta(seconds=v * unit_sec)
                      ).strftime('%Y-%m-%d %H:%M:%S')
        rows.append((key, v, ts))
    return rows


def main(fixture, dumped):
    import pandas as pd
    _, nc_vars = parse_cdf1(fixture)
    expect = {}
    for nm, (shape, va, vals, nctype) in nc_vars.items():
        for key, v, ts in cf_decode(shape, va, vals, nctype):
            expect[(nm, key)] = (v, ts)

    files = glob.glob(dumped + '/*.parquet')
    assert files, 'no parquet under ' + dumped
    df = pd.concat(pd.read_parquet(f) for f in files)
    assert len(df) == len(expect), (len(df), len(expect))
    for _, r in df.iterrows():
        ev, ets = expect[(r['variable'], r['coord_key'])]
        got_v = None if pd.isna(r['value']) else float(r['value'])
        got_t = None if pd.isna(r['time_str']) else r['time_str']
        assert (got_v is None) == (ev is None), (r['variable'], r['coord_key'], got_v, ev)
        if ev is not None:
            assert got_v == ev, (r['variable'], r['coord_key'], got_v, ev)
        assert got_t == ets, (r['variable'], r['coord_key'], got_t, ets)
    print('cf_check: %d rows, python-computed mask/scale/time all match' % len(df))


if __name__ == '__main__':
    main(sys.argv[1] if len(sys.argv) > 1 else '/tmp/graft_cf_fixture_v3.nc',
         sys.argv[2] if len(sys.argv) > 2 else '/tmp/r8cf/load_netcdf_cf')

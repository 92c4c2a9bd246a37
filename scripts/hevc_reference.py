#!/usr/bin/env python3
"""HEVC / HEIC reference harness (r18) — the codec-trigger discipline
that shipped brotli (r13), BCJ2 (r14), VP8 (r15, libwebp) and AV1
(r16-r17, libavif/aom), fired two rounds running by libde265.so.0 +
libx265.so.199 + libheif.so.1 on the runtime (probe ledgers NOTES_r16/
r17; VERDICT r17 makes HEVC the r18 headline).

Commands:
  probe      print library availability + versions (NOTES memos).
  params     enumerate the libheif x265 encoder's parameter surface
             (pass-through to x265_param_parse is the staging lever).
  encode     <w> <h> <seed> [k=v ...] — encode one deterministic YCbCr
             4:2:0 frame to /tmp/hevc_<w>x<h>_<seed>.heic and print the
             raw annexb elementary stream path + sizes.
  planes     <file.heic> — decode via libheif(libde265) and print
             per-plane dims + means (the cheap oracle line).
  vectors    <file.heic> <out.json> — full decoded planes as JSON
             (the av1cal-style full-plane calibration vector).
  sweep      <n> <seed> [k=v ...] — n staged members; JSON lines with
             hex + dims + px means (committed-fixture shape).

All struct access is through the public libheif C API (opaque handles,
error struct by value) — no offset archaeology needed, unlike libavif.
"""
import ctypes
import json
import os
import sys


class HeifError(ctypes.Structure):
    _fields_ = [("code", ctypes.c_int), ("subcode", ctypes.c_int),
                ("message", ctypes.c_char_p)]


def _chk(err, what):
    if err.code != 0:
        raise RuntimeError(f"{what}: code={err.code} sub={err.subcode} "
                           f"{(err.message or b'').decode()}")


# heif enums (public libheif headers)
COLORSPACE_YCBCR = 0
CHROMA_420 = 1
CHROMA_MONO = 0
CH_Y, CH_CB, CH_CR = 0, 1, 2
COMPRESSION_HEVC = 1


def load_heif():
    h = ctypes.CDLL("libheif.so.1")
    E = HeifError
    p = ctypes.c_void_p
    sigs = [
        ("heif_get_version", ctypes.c_char_p, []),
        ("heif_context_alloc", p, []),
        ("heif_context_free", None, [p]),
        ("heif_context_read_from_memory_without_copy", E,
         [p, ctypes.c_void_p, ctypes.c_size_t, p]),
        ("heif_context_get_primary_image_handle", E, [p, ctypes.POINTER(p)]),
        ("heif_image_handle_get_width", ctypes.c_int, [p]),
        ("heif_image_handle_get_height", ctypes.c_int, [p]),
        ("heif_image_handle_get_luma_bits_per_pixel", ctypes.c_int, [p]),
        ("heif_image_handle_release", None, [p]),
        ("heif_decode_image", E, [p, ctypes.POINTER(p), ctypes.c_int,
                                  ctypes.c_int, p]),
        ("heif_image_get_plane_readonly", ctypes.POINTER(ctypes.c_ubyte),
         [p, ctypes.c_int, ctypes.POINTER(ctypes.c_int)]),
        ("heif_image_get_width", ctypes.c_int, [p, ctypes.c_int]),
        ("heif_image_get_height", ctypes.c_int, [p, ctypes.c_int]),
        ("heif_image_release", None, [p]),
        ("heif_image_create", E, [ctypes.c_int, ctypes.c_int, ctypes.c_int,
                                  ctypes.c_int, ctypes.POINTER(p)]),
        ("heif_image_add_plane", E, [p, ctypes.c_int, ctypes.c_int,
                                     ctypes.c_int, ctypes.c_int]),
        ("heif_image_get_plane", ctypes.POINTER(ctypes.c_ubyte),
         [p, ctypes.c_int, ctypes.POINTER(ctypes.c_int)]),
        ("heif_context_get_encoder_for_format", E, [p, ctypes.c_int,
                                                    ctypes.POINTER(p)]),
        ("heif_encoder_get_name", ctypes.c_char_p, [p]),
        ("heif_encoder_set_lossy_quality", E, [p, ctypes.c_int]),
        ("heif_encoder_set_lossless", E, [p, ctypes.c_int]),
        ("heif_encoder_set_parameter", E, [p, ctypes.c_char_p,
                                           ctypes.c_char_p]),
        ("heif_encoder_list_parameters",
         ctypes.POINTER(ctypes.c_void_p), [p]),
        ("heif_encoder_parameter_get_name", ctypes.c_char_p, [p]),
        ("heif_encoder_parameter_get_type", ctypes.c_int, [p]),
        ("heif_encoder_release", None, [p]),
        ("heif_context_encode_image", E, [p, p, p, p, ctypes.POINTER(p)]),
        ("heif_context_write_to_file", E, [p, ctypes.c_char_p]),
    ]
    for n, res, args in sigs:
        f = getattr(h, n)
        f.restype = res
        f.argtypes = args
    return h


def lcg(seed):
    state = seed

    def rnd(bound):
        nonlocal state
        state = (state * 6364136223846793005
                 + 1442695040888963407) % (1 << 64)
        return (state >> 33) % bound
    return rnd


def fill_plane(ptr, stride, w, h, rnd, base, smooth):
    """Deterministic content: smooth 2D gradient + optional LCG noise —
    the avif harness's content model, so staged encodes exercise the
    same mode mix."""
    for y in range(h):
        row = ctypes.cast(ctypes.addressof(ptr.contents) + y * stride,
                          ctypes.POINTER(ctypes.c_ubyte))
        for x in range(w):
            v = (base + (x * 5 + y * 3) // 2) % 256
            if not smooth:
                v = (v + rnd(64)) % 256
            row[x] = v


def heic_encode(h, w, hh, seed, params=(), quality=None, lossless=False,
                smooth=False, out=None):
    rnd = lcg(seed)
    img = ctypes.c_void_p()
    _chk(h.heif_image_create(w, hh, COLORSPACE_YCBCR, CHROMA_420,
                             ctypes.byref(img)), "image_create")
    cw, ch = (w + 1) // 2, (hh + 1) // 2
    for chan, pw, ph, base in [(CH_Y, w, hh, 60), (CH_CB, cw, ch, 110),
                               (CH_CR, cw, ch, 140)]:
        _chk(h.heif_image_add_plane(img, chan, pw, ph, 8), "add_plane")
        stride = ctypes.c_int()
        ptr = h.heif_image_get_plane(img, chan, ctypes.byref(stride))
        fill_plane(ptr, stride.value, pw, ph, rnd, base + rnd(80), smooth)
    ctx = h.heif_context_alloc()
    enc = ctypes.c_void_p()
    _chk(h.heif_context_get_encoder_for_format(
        ctx, COMPRESSION_HEVC, ctypes.byref(enc)), "get_encoder")
    if lossless:
        _chk(h.heif_encoder_set_lossless(enc, 1), "lossless")
    if quality is not None:
        _chk(h.heif_encoder_set_lossy_quality(enc, quality), "quality")
    for k, v in params:
        _chk(h.heif_encoder_set_parameter(enc, k.encode(), v.encode()),
             f"param {k}={v}")
    hd = ctypes.c_void_p()
    _chk(h.heif_context_encode_image(ctx, img, enc, None,
                                     ctypes.byref(hd)), "encode")
    path = out or f"/tmp/hevc_{w}x{hh}_{seed}.heic"
    _chk(h.heif_context_write_to_file(ctx, path.encode()), "write")
    h.heif_encoder_release(enc)
    h.heif_context_free(ctx)
    h.heif_image_release(img)
    return path


def heic_decode_planes(h, data):
    """Reference decode via libheif→libde265. Returns
    {plane: (w, h, bytes)} in YCbCr."""
    buf = ctypes.create_string_buffer(data, len(data))
    ctx = h.heif_context_alloc()
    _chk(h.heif_context_read_from_memory_without_copy(
        ctx, buf, len(data), None), "read")
    hd = ctypes.c_void_p()
    _chk(h.heif_context_get_primary_image_handle(ctx, ctypes.byref(hd)),
         "primary")
    img = ctypes.c_void_p()
    _chk(h.heif_decode_image(hd, ctypes.byref(img), COLORSPACE_YCBCR,
                             CHROMA_420, None), "decode")
    planes = {}
    for name, chan in [("y", CH_Y), ("cb", CH_CB), ("cr", CH_CR)]:
        pw = h.heif_image_get_width(img, chan)
        ph = h.heif_image_get_height(img, chan)
        if pw < 0:
            continue
        stride = ctypes.c_int()
        ptr = h.heif_image_get_plane_readonly(img, chan,
                                              ctypes.byref(stride))
        rows = []
        for y in range(ph):
            rows.append(ctypes.string_at(
                ctypes.addressof(ptr.contents) + y * stride.value, pw))
        planes[name] = (pw, ph, b"".join(rows))
    h.heif_image_release(img)
    h.heif_image_handle_release(hd)
    h.heif_context_free(ctx)
    return planes


# ------------------------------------------------------------- libde265
def load_de265():
    d = ctypes.CDLL("libde265.so.0")
    p = ctypes.c_void_p
    for n, res, args in [
            ("de265_get_version", ctypes.c_char_p, []),
            ("de265_new_decoder", p, []),
            ("de265_free_decoder", ctypes.c_int, [p]),
            ("de265_push_data", ctypes.c_int,
             [p, ctypes.c_void_p, ctypes.c_int, ctypes.c_longlong,
              ctypes.c_void_p]),
            ("de265_flush_data", ctypes.c_int, [p]),
            ("de265_decode", ctypes.c_int, [p, ctypes.POINTER(ctypes.c_int)]),
            ("de265_get_next_picture", p, [p]),
            ("de265_get_image_width", ctypes.c_int, [p, ctypes.c_int]),
            ("de265_get_image_height", ctypes.c_int, [p, ctypes.c_int]),
            ("de265_get_bits_per_pixel", ctypes.c_int, [p, ctypes.c_int]),
            ("de265_get_image_plane",
             ctypes.POINTER(ctypes.c_ubyte),
             [p, ctypes.c_int, ctypes.POINTER(ctypes.c_int)])]:
        f = getattr(d, n)
        f.restype = res
        f.argtypes = args
    return d


def de265_decode_annexb(d, stream):
    """Decode a raw annex-B HEVC elementary stream; returns
    [(w,h,bytes)] per plane of the FIRST picture — the CODED (padded)
    dims, pre-crop, which is what the staged Scala drill compares."""
    dec = d.de265_new_decoder()
    buf = ctypes.create_string_buffer(stream, len(stream))
    assert d.de265_push_data(dec, buf, len(stream), 0, None) == 0
    assert d.de265_flush_data(dec) == 0
    img = None
    for _ in range(200):
        more = ctypes.c_int(1)
        err = d.de265_decode(dec, ctypes.byref(more))
        img = d.de265_get_next_picture(dec)
        if img:
            break
        if not more.value and err != 0:
            raise RuntimeError(f"de265 err {err}")
        if not more.value:
            break
    if not img:
        raise RuntimeError("no picture")
    planes = []
    for chan in range(3):
        pw = d.de265_get_image_width(img, chan)
        ph = d.de265_get_image_height(img, chan)
        stride = ctypes.c_int()
        ptr = d.de265_get_image_plane(img, chan, ctypes.byref(stride))
        rows = []
        for y in range(ph):
            rows.append(ctypes.string_at(
                ctypes.addressof(ptr.contents) + y * stride.value, pw))
        planes.append((pw, ph, b"".join(rows)))
    d.de265_free_decoder(dec)
    return planes


# --------------------------------------------- container → annexb
def hvc1_to_annexb(heic):
    """Extract the primary hvc1 item's hvcC parameter sets + mdat
    payload as an annex-B stream, with the repo's own ISOBMFF walk
    twin (scripts-local: offsets only, no shared code with the Scala
    side)."""
    import struct as st

    def boxes(b, s, e):
        p = s
        while p + 8 <= e:
            size = st.unpack(">I", b[p:p + 4])[0]
            typ = b[p + 4:p + 8].decode("latin1")
            body = p + 8
            if size == 1:
                size = st.unpack(">Q", b[p + 8:p + 16])[0]
                body = p + 16
            elif size == 0:
                size = e - p
            yield typ, body, p + size
            p += size

    meta = None
    for t, bs, be in boxes(heic, 0, len(heic)):
        if t == "meta":
            meta = (bs + 4, be)
    assert meta
    pitm = None
    iloc_body = None
    hvcc = None
    ipma = None
    ipco_props = []
    infe = {}
    dimg = {}
    for t, bs, be in boxes(heic, meta[0], meta[1]):
        if t == "pitm":
            pitm = st.unpack(">H", heic[bs + 4:bs + 6])[0]
        elif t == "iref":
            for tt, bbs, bbe in boxes(heic, bs + 4, be):
                if tt == "dimg":
                    frm = st.unpack(">H", heic[bbs:bbs + 2])[0]
                    cnt = st.unpack(">H", heic[bbs + 2:bbs + 4])[0]
                    dimg[frm] = [st.unpack(
                        ">H", heic[bbs + 4 + 2 * i:bbs + 6 + 2 * i])[0]
                        for i in range(cnt)]
        elif t == "iloc":
            iloc_body = (bs, be)
        elif t == "iinf":
            ver = heic[bs]
            n, p = (st.unpack(">H", heic[bs + 4:bs + 6])[0], bs + 6) \
                if ver == 0 else (st.unpack(">I", heic[bs + 4:bs + 8])[0],
                                  bs + 8)
            for tt, bbs, bbe in boxes(heic, p, be):
                if tt == "infe":
                    iid = st.unpack(">H", heic[bbs + 4:bbs + 6])[0]
                    infe[iid] = heic[bbs + 8:bbs + 12].decode("latin1")
        elif t == "iprp":
            for tt, bbs, bbe in boxes(heic, bs, be):
                if tt == "ipco":
                    for t3, b3s, b3e in boxes(heic, bbs, bbe):
                        ipco_props.append((t3, b3s, b3e))
                elif tt == "ipma":
                    ipma = (bbs, bbe)
    # the coded item: the primary directly, or — libheif's layout —
    # a single-tile grid primary whose dimg child carries the stream
    target = pitm
    if infe.get(pitm) == "grid":
        kids = dimg[pitm]
        assert len(kids) == 1, f"multi-tile grid ({len(kids)}) unsupported"
        target = kids[0]
    assert infe.get(target) == "hvc1", f"target is {infe.get(target)}"
    # hvcC of the coded item (via ipma)
    bs, be = ipma
    flags = int.from_bytes(heic[bs + 1:bs + 4], "big")
    cnt = st.unpack(">I", heic[bs + 4:bs + 8])[0]
    p = bs + 8
    tgt_props = None
    for _ in range(cnt):
        iid = st.unpack(">H", heic[p:p + 2])[0]
        assoc_n = heic[p + 2]
        p += 3
        idxs = []
        for _ in range(assoc_n):
            if flags & 1:
                idxs.append(st.unpack(">H", heic[p:p + 2])[0] & 0x7fff)
                p += 2
            else:
                idxs.append(heic[p] & 0x7f)
                p += 1
        if iid == target:
            tgt_props = idxs
    for idx in tgt_props:
        t3, b3s, b3e = ipco_props[idx - 1]
        if t3 == "hvcC":
            hvcc = heic[b3s:b3e]
    assert hvcc, "no hvcC on coded item"
    # iloc: find primary extents (construction method 0/1)
    bs, be = iloc_body
    ver = heic[bs]
    vals = heic[bs + 4]
    off_sz, len_sz = vals >> 4, vals & 15
    base_off_sz = heic[bs + 5] >> 4
    index_sz = heic[bs + 5] & 15 if ver in (1, 2) else 0
    p = bs + 6
    n = st.unpack(">H", heic[p:p + 2])[0]
    p += 2
    payload = None
    idat = None
    for t, bbs, bbe in boxes(heic, meta[0], meta[1]):
        if t == "idat":
            idat = heic[bbs:bbe]

    def rd(sz):
        nonlocal p
        v = int.from_bytes(heic[p:p + sz], "big")
        p += sz
        return v
    for _ in range(n):
        iid = rd(2)
        meth = rd(2) & 15 if ver in (1, 2) else 0
        rd(2)  # dref
        base = rd(base_off_sz)
        ext_n = rd(2)
        exts = []
        for _ in range(ext_n):
            if index_sz:
                rd(index_sz)
            o = rd(off_sz)
            ln = rd(len_sz)
            exts.append((o, ln))
        if iid == target:
            out = b""
            for o, ln in exts:
                src = idat if meth == 1 else heic
                out += src[base + o:base + o + ln]
            payload = out
    assert payload is not None
    # hvcC → parameter sets (ISO 14496-15 §8.3.3.1)
    ps = []
    q = 22
    narr = hvcc[q]
    q += 1
    for _ in range(narr):
        q += 1  # completeness+type
        cnt2 = st.unpack(">H", hvcc[q:q + 2])[0]
        q += 2
        for _ in range(cnt2):
            ln = st.unpack(">H", hvcc[q:q + 2])[0]
            q += 2
            ps.append(hvcc[q:q + ln])
            q += ln
    lsm1 = hvcc[21] & 3  # lengthSizeMinusOne
    nalsz = lsm1 + 1
    # length-prefixed payload → annexb
    nals = []
    q = 0
    while q < len(payload):
        ln = int.from_bytes(payload[q:q + nalsz], "big")
        q += nalsz
        nals.append(payload[q:q + ln])
        q += ln
    out = b""
    for nal in ps + nals:
        out += b"\x00\x00\x00\x01" + nal
    return out, hvcc


# --------------------------------------------- header-dump twin
class Bits:
    """RBSP bit reader over an EBSP NAL body (de-escapes 00 00 03)."""

    def __init__(self, nal):
        rbsp = bytearray()
        i = 0
        while i < len(nal):
            if i + 2 < len(nal) and nal[i] == 0 and nal[i + 1] == 0 \
                    and nal[i + 2] == 3:
                rbsp += nal[i:i + 2]
                i += 3
            else:
                rbsp.append(nal[i])
                i += 1
        self.b = bytes(rbsp)
        self.pos = 0

    def u(self, n):
        v = 0
        for _ in range(n):
            v = (v << 1) | ((self.b[self.pos >> 3] >> (7 - (self.pos & 7)))
                            & 1)
            self.pos += 1
        return v

    def ue(self):
        z = 0
        while self.u(1) == 0:
            z += 1
        return (1 << z) - 1 + (self.u(z) if z else 0)

    def se(self):
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def parse_sps(nal):
    """H.265 7.3.2.2 — the fields the intra decoder needs."""
    r = Bits(nal[2:])  # skip 2-byte NAL header
    s = {}
    r.u(4)  # vps id
    max_sub = r.u(3)
    r.u(1)
    # profile_tier_level: 12 bytes general + sub-layer flags
    r.u(96)
    if max_sub > 0:
        raise NotImplementedError("sub-layers")
    s["sps_id"] = r.ue()
    s["chroma_format_idc"] = r.ue()
    if s["chroma_format_idc"] == 3:
        r.u(1)
    s["pic_width"] = r.ue()
    s["pic_height"] = r.ue()
    s["conformance_window"] = r.u(1)
    if s["conformance_window"]:
        s["conf_win"] = [r.ue() for _ in range(4)]
    s["bit_depth_luma"] = r.ue() + 8
    s["bit_depth_chroma"] = r.ue() + 8
    s["log2_max_poc"] = r.ue() + 4
    sub_ordering = r.u(1)
    for _ in range((0 if sub_ordering else max_sub), max_sub + 1):
        r.ue(), r.ue(), r.ue()
    s["log2_min_cb"] = r.ue() + 3
    s["log2_diff_max_min_cb"] = r.ue()
    s["log2_min_tb"] = r.ue() + 2
    s["log2_diff_max_min_tb"] = r.ue()
    s["max_transform_hierarchy_depth_inter"] = r.ue()
    s["max_transform_hierarchy_depth_intra"] = r.ue()
    s["scaling_list_enabled"] = r.u(1)
    if s["scaling_list_enabled"]:
        raise NotImplementedError("scaling lists")
    s["amp_enabled"] = r.u(1)
    s["sao_enabled"] = r.u(1)
    s["pcm_enabled"] = r.u(1)
    if s["pcm_enabled"]:
        raise NotImplementedError("pcm")
    n_st_rps = r.ue()
    if n_st_rps:
        raise NotImplementedError("st_rps (inter feature)")
    s["long_term_ref_pics"] = r.u(1)
    s["temporal_mvp"] = r.u(1)
    s["strong_intra_smoothing"] = r.u(1)
    s["vui_present"] = r.u(1)
    return s


def parse_pps(nal):
    r = Bits(nal[2:])
    p = {}
    p["pps_id"] = r.ue()
    p["sps_id"] = r.ue()
    p["dependent_slice_segments"] = r.u(1)
    p["output_flag_present"] = r.u(1)
    p["num_extra_slice_header_bits"] = r.u(3)
    p["sign_data_hiding"] = r.u(1)
    p["cabac_init_present"] = r.u(1)
    p["num_ref_idx_l0_default"] = r.ue() + 1
    p["num_ref_idx_l1_default"] = r.ue() + 1
    p["init_qp"] = r.se() + 26
    p["constrained_intra_pred"] = r.u(1)
    p["transform_skip"] = r.u(1)
    p["cu_qp_delta_enabled"] = r.u(1)
    if p["cu_qp_delta_enabled"]:
        p["diff_cu_qp_delta_depth"] = r.ue()
    p["cb_qp_offset"] = r.se()
    p["cr_qp_offset"] = r.se()
    p["slice_chroma_qp_offsets_present"] = r.u(1)
    p["weighted_pred"] = r.u(1)
    p["weighted_bipred"] = r.u(1)
    p["transquant_bypass"] = r.u(1)
    p["tiles_enabled"] = r.u(1)
    p["entropy_coding_sync"] = r.u(1)
    if p["tiles_enabled"]:
        raise NotImplementedError("tiles")
    p["loop_filter_across_slices"] = r.u(1)
    p["deblocking_filter_control_present"] = r.u(1)
    if p["deblocking_filter_control_present"]:
        p["deblocking_filter_override_enabled"] = r.u(1)
        p["pps_deblocking_filter_disabled"] = r.u(1)
        if not p["pps_deblocking_filter_disabled"]:
            p["beta_offset_div2"] = r.se()
            p["tc_offset_div2"] = r.se()
    p["pps_scaling_list"] = r.u(1)
    if p["pps_scaling_list"]:
        raise NotImplementedError("pps scaling list")
    p["lists_modification_present"] = r.u(1)
    p["log2_parallel_merge_level"] = r.ue() + 2
    p["slice_segment_header_extension"] = r.u(1)
    return p


def cmd_headers(path):
    data = open(path, "rb").read()
    if path.endswith(".hevc"):
        annexb = data
    else:
        annexb, hvcc = hvc1_to_annexb(data)
    # split annexb
    import re
    parts = [m for m in re.split(b"\x00\x00\x00\x01", annexb) if m]
    for nal in parts:
        typ = (nal[0] >> 1) & 0x3f
        name = {32: "VPS", 33: "SPS", 34: "PPS", 39: "SEI",
                19: "IDR_W_RADL", 20: "IDR_N_LP", 21: "CRA"}.get(
                    typ, f"nal{typ}")
        print(f"== {name} ({len(nal)} bytes)")
        if typ == 33:
            print(json.dumps(parse_sps(nal), indent=1))
        elif typ == 34:
            print(json.dumps(parse_pps(nal), indent=1))


def cmd_probe():
    try:
        h = load_heif()
        print("libheif:", h.heif_get_version().decode())
        ctx = h.heif_context_alloc()
        enc = ctypes.c_void_p()
        err = h.heif_context_get_encoder_for_format(ctx, COMPRESSION_HEVC,
                                                    ctypes.byref(enc))
        print("hevc encoder:", "none" if err.code else
              h.heif_encoder_get_name(enc).decode())
    except OSError as e:
        print("libheif: ABSENT", e)
    try:
        d = load_de265()
        print("libde265:", d.de265_get_version().decode())
    except OSError as e:
        print("libde265: ABSENT", e)


def cmd_params():
    h = load_heif()
    ctx = h.heif_context_alloc()
    enc = ctypes.c_void_p()
    _chk(h.heif_context_get_encoder_for_format(ctx, COMPRESSION_HEVC,
                                               ctypes.byref(enc)), "enc")
    arr = h.heif_encoder_list_parameters(enc)
    i = 0
    while arr[i]:
        print(h.heif_encoder_parameter_get_name(arr[i]).decode(),
              h.heif_encoder_parameter_get_type(arr[i]))
        i += 1


def parse_kv(args):
    return [tuple(a.split("=", 1)) for a in args if "=" in a]


def cmd_encode(w, hh, seed, kv):
    h = load_heif()
    path = heic_encode(h, w, hh, seed, params=kv)
    data = open(path, "rb").read()
    annexb, hvcc = hvc1_to_annexb(data)
    rawpath = path.replace(".heic", ".hevc")
    open(rawpath, "wb").write(annexb)
    print(path, len(data), rawpath, len(annexb))


def cmd_planes(path):
    h = load_heif()
    data = open(path, "rb").read()
    planes = heic_decode_planes(h, data)
    for name, (pw, ph, b) in planes.items():
        print(name, pw, ph, round(sum(b) / len(b), 4))


def cmd_vectors(path, outj):
    """Full-plane calibration vector: CODED planes from libde265 on the
    extracted annexb stream (pre-crop — what the staged Scala decoder
    reconstructs), plus the container's display dims."""
    d = load_de265()
    data = open(path, "rb").read()
    if path.endswith(".hevc"):
        annexb = data
    else:
        annexb, _ = hvc1_to_annexb(data)
    planes = de265_decode_annexb(d, annexb)
    out = dict(planes=[dict(w=pw, h=ph, pix=list(b))
                       for pw, ph, b in planes])
    json.dump(out, open(outj, "w"))
    for pw, ph, b in planes:
        print(pw, ph, round(sum(b) / len(b), 4))


def cal_members(h, n, seed, params):
    """Staged sweep members for the Scala calibration drill: size/
    content/quality draws under a fixed encoder-parameter stage."""
    rnd = lcg(seed)
    for i in range(n):
        w = 8 + rnd(120)
        hh = 8 + rnd(120)
        quality = 20 + rnd(75)
        smooth = rnd(2) == 1
        path = heic_encode(h, w, hh, seed + i * 977, params=params,
                           quality=quality, smooth=smooth,
                           out=f"/tmp/hevccal_{i}.heic")
        data = open(path, "rb").read()
        os.unlink(path)
        yield f"m{i:04d}", w, hh, data


def cmd_cal(n, seed, kv, out):
    """Write a JSONL calibration corpus: annexb hex + libde265 planes
    (hex u8) per member. Consumed by HevcSpec."""
    h = load_heif()
    d = load_de265()
    with open(out, "w") as f:
        for name, w, hh, data in cal_members(h, n, seed, kv):
            annexb, _ = hvc1_to_annexb(data)
            planes = de265_decode_annexb(d, annexb)
            rec = dict(name=name, hex=annexb.hex(),
                       pw=[p[0] for p in planes],
                       ph=[p[1] for p in planes],
                       pix=[p[2].hex() for p in planes])
            f.write(json.dumps(rec) + "\n")
    print("wrote", out)


def main():
    cmd = sys.argv[1]
    if cmd == "probe":
        cmd_probe()
    elif cmd == "params":
        cmd_params()
    elif cmd == "encode":
        cmd_encode(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
                   parse_kv(sys.argv[5:]))
    elif cmd == "planes":
        cmd_planes(sys.argv[2])
    elif cmd == "vectors":
        cmd_vectors(sys.argv[2], sys.argv[3])
    elif cmd == "headers":
        cmd_headers(sys.argv[2])
    elif cmd == "cal":
        cmd_cal(int(sys.argv[2]), int(sys.argv[3]),
                parse_kv(sys.argv[4:-1]), sys.argv[-1])
    else:
        raise SystemExit(f"unknown cmd {cmd}")


if __name__ == "__main__":
    main()

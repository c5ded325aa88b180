"""ADX function-reference coverage enumeration (round-12, probe
battery 29). Walks a transcription of the PUBLIC Azure Data Explorer
function index (learn.microsoft.com/azure/data-explorer/kusto/query —
scalar functions, aggregation functions, window functions), runs each
signature through the translator against a typed probe table, and
classifies every entry:

  ok      — translates AND executes (value correctness is the probe
            batteries' / oracle gate's job, not this census's)
  loud    — raises a deliberate explicit-subset ValueError naming the
            limitation (the documented out-of-subset contract)
  unresolved — translates textually but Spark analysis rejects the
            emitted function (UNRESOLVED_ROUTINE etc.) — loud at
            first use, never a silent mistranslation, but candidates
            for implementation
  error   — anything else (a translator crash that is neither a
            subset refusal nor an analysis rejection) — bugs

Usage:  python tools/adx_coverage.py [--json]

The signature list is transcribed from the public docs index by
name + a representative invocation; it is NOT exhaustive of every
overload, but covers every function the index page lists for the
scalar/aggregation/window families that make sense over tabular
data. The point is turning "out-of-subset tail" from anecdote into a
measured number (round-11 verdict, next-round item 4).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# (function, probe KQL) — run as a full pipe over the typed table
# `cov` (s string, i long, r real, ts datetime, b bool, j dynamic-ish
# json string, arr packed array, ip string). `print`-style where the
# function is source-free.
SCALARS: list[tuple[str, str]] = [
    # -- conversion
    ("tostring", "cov | extend o = tostring(i)"),
    ("toint", "cov | extend o = toint(s)"),
    ("tolong", "cov | extend o = tolong(s)"),
    ("todouble", "cov | extend o = todouble(s)"),
    ("toreal", "cov | extend o = toreal(s)"),
    ("tobool", "cov | extend o = tobool(s)"),
    ("todatetime", "cov | extend o = todatetime(s)"),
    ("totimespan", "cov | extend o = totimespan('01:00:00')"),
    ("todecimal", "cov | extend o = todecimal(s)"),
    ("toguid", "cov | extend o = toguid(s)"),
    ("tohex", "cov | extend o = tohex(i)"),
    ("typeof", "cov | extend o = extract('([0-9]+)', 1, s, typeof(long))"),
    ("gettype", "cov | extend o = gettype(i)"),
    # -- string
    ("strlen", "cov | extend o = strlen(s)"),
    ("substring", "cov | extend o = substring(s, 1, 2)"),
    ("strcat", "cov | extend o = strcat(s, 'x')"),
    ("strcat_delim", "cov | extend o = strcat_delim('-', s, 'x')"),
    ("strcat_array", "cov | extend o = strcat_array(arr, ',')"),
    ("strrep", "cov | extend o = strrep(s, 2)"),
    ("strcmp", "cov | extend o = strcmp(s, 'x')"),
    ("split", "cov | extend o = split(s, 'a')"),
    ("toupper", "cov | extend o = toupper(s)"),
    ("tolower", "cov | extend o = tolower(s)"),
    ("trim", "cov | extend o = trim('x', s)"),
    ("trim_start", "cov | extend o = trim_start('x', s)"),
    ("trim_end", "cov | extend o = trim_end('x', s)"),
    ("reverse", "cov | extend o = reverse(s)"),
    ("replace_string", "cov | extend o = replace_string(s, 'a', 'b')"),
    ("replace_strings",
     "cov | extend o = replace_strings(s, dynamic(['a']), dynamic(['b']))"),
    ("replace_regex", "cov | extend o = replace_regex(s, 'a+', 'b')"),
    ("extract", "cov | extend o = extract('([a-z]+)', 1, s)"),
    ("extract_all", "cov | extend o = extract_all('([a-z]+)', s)"),
    ("extract_json", "cov | extend o = extract_json('$.a', j)"),
    ("indexof", "cov | extend o = indexof(s, 'a')"),
    ("indexof_regex", "cov | extend o = indexof_regex(s, 'a+')"),
    ("countof", "cov | extend o = countof(s, 'a')"),
    ("coalesce", "cov | extend o = coalesce(s, 'x')"),
    ("isempty", "cov | extend o = isempty(s)"),
    ("isnotempty", "cov | extend o = isnotempty(s)"),
    ("isnull", "cov | extend o = isnull(i)"),
    ("isnotnull", "cov | extend o = isnotnull(i)"),
    ("isutf8", "cov | extend o = isutf8(s)"),
    ("isascii", "cov | extend o = isascii(s)"),
    ("parse_json", "cov | extend o = parse_json(j)"),
    ("parse_csv", "cov | extend o = parse_csv(s)"),
    ("parse_url", "cov | extend o = parse_url('https://x.org/p?a=1')"),
    ("parse_urlquery", "cov | extend o = parse_urlquery('a=1&b=2')"),
    ("parse_path", "cov | extend o = parse_path('/a/b/c.txt')"),
    ("parse_version", "cov | extend o = parse_version('1.2.3')"),
    ("parse_xml", "cov | extend x = '<a>1</a>' | extend o = toint(parse_xml(x).a)"),
    ("parse_user_agent",
     "cov | extend o = parse_user_agent('curl/8.0', 'browser')"),
    ("parse_ipv4", "cov | extend o = parse_ipv4(ip)"),
    ("parse_ipv4_mask", "cov | extend o = parse_ipv4_mask(ip, 24)"),
    ("parse_ipv6", "cov | extend o = parse_ipv6('::1')"),
    ("parse_ipv6_mask", "cov | extend o = parse_ipv6_mask('::1', 120)"),
    ("format_bytes", "cov | extend o = format_bytes(i, 2)"),
    ("format_datetime", "cov | extend o = format_datetime(ts, 'yyyy-MM-dd')"),
    ("format_timespan", "cov | extend o = format_timespan(1h, 'hh:mm')"),
    ("format_ipv4", "cov | extend o = format_ipv4(ip)"),
    ("format_ipv4_mask", "cov | extend o = format_ipv4_mask(ip, 24)"),
    ("base64_encode_tostring", "cov | extend o = base64_encode_tostring(s)"),
    ("base64_decode_tostring", "cov | extend o = base64_decode_tostring('aGk=')"),
    ("base64_encode_fromguid",
     "print o = base64_encode_fromguid(toguid('00000000-0000-0000-0000-000000000000'))"),
    ("base64_decode_toguid",
     "print o = base64_decode_toguid('AAAAAAAAAAAAAAAAAAAAAA==')"),
    ("base64_decode_toarray", "cov | extend o = base64_decode_toarray('aGk=')"),
    ("url_encode", "cov | extend o = url_encode(s)"),
    ("url_encode_component", "cov | extend o = url_encode_component(s)"),
    ("url_decode", "cov | extend o = url_decode(s)"),
    ("quote", "cov | extend o = quote(s)"),
    ("unicode_codepoints_from_string",
     "cov | extend o = unicode_codepoints_from_string(s)"),
    ("unicode_codepoints_to_string",
     "cov | extend o = unicode_codepoints_to_string(pack_array(104, 105))"),
    ("make_string", "cov | extend o = make_string(pack_array(104, 105))"),
    ("to_utf8", "cov | extend o = to_utf8(s)"),
    ("string_size", "cov | extend o = string_size(s)"),
    ("translate", "cov | extend o = translate('ab', 'xy', s)"),
    ("punycode_from_string", "cov | extend o = punycode_from_string(s)"),
    ("punycode_to_string", "cov | extend o = punycode_to_string(s)"),
    ("punycode_domain_from_string",
     "cov | extend o = punycode_domain_from_string(s)"),
    ("punycode_domain_to_string",
     "cov | extend o = punycode_domain_to_string(s)"),
    ("zlib_compress_to_base64_string",
     "cov | extend o = zlib_compress_to_base64_string(s)"),
    ("zlib_decompress_from_base64_string",
     "cov | extend o = zlib_decompress_from_base64_string(s)"),
    ("gzip_compress_to_base64_string",
     "cov | extend o = gzip_compress_to_base64_string(s)"),
    ("gzip_decompress_from_base64_string",
     "cov | extend o = gzip_decompress_from_base64_string(s)"),
    # -- hashing
    ("hash", "cov | extend o = hash(s)"),
    ("hash_sha256", "cov | extend o = hash_sha256(s)"),
    ("hash_sha1", "cov | extend o = hash_sha1(s)"),
    ("hash_md5", "cov | extend o = hash_md5(s)"),
    ("hash_xxhash64", "cov | extend o = hash_xxhash64(s)"),
    ("hash_combine", "cov | extend o = hash_combine(hash(s), hash(i))"),
    ("hash_many", "cov | extend o = hash_many(s, i)"),
    # -- math
    ("abs", "cov | extend o = abs(r)"),
    ("sign", "cov | extend o = sign(r)"),
    ("round", "cov | extend o = round(r, 2)"),
    ("floor", "cov | extend o = floor(r, 1)"),
    ("ceiling", "cov | extend o = ceiling(r)"),
    ("exp", "cov | extend o = exp(r)"),
    ("exp2", "cov | extend o = exp2(r)"),
    ("exp10", "cov | extend o = exp10(r)"),
    ("log", "cov | extend o = log(r + 2)"),
    ("log2", "cov | extend o = log2(r + 2)"),
    ("log10", "cov | extend o = log10(r + 2)"),
    ("loggamma", "cov | extend o = loggamma(r + 2)"),
    ("gamma", "cov | extend o = gamma(r + 2)"),
    ("sqrt", "cov | extend o = sqrt(r + 2)"),
    ("pow", "cov | extend o = pow(r, 2)"),
    ("sin", "cov | extend o = sin(r)"),
    ("cos", "cov | extend o = cos(r)"),
    ("tan", "cov | extend o = tan(r)"),
    ("asin", "cov | extend o = asin(r / 10)"),
    ("acos", "cov | extend o = acos(r / 10)"),
    ("atan", "cov | extend o = atan(r)"),
    ("atan2", "cov | extend o = atan2(r, 1.0)"),
    ("cot", "cov | extend o = cot(r + 1)"),
    ("degrees", "cov | extend o = degrees(r)"),
    ("radians", "cov | extend o = radians(r)"),
    ("pi", "print o = pi()"),
    ("rand", "print o = rand()"),
    ("range", "print o = range(1, 5, 1)"),
    ("isnan", "cov | extend o = isnan(r)"),
    ("isinf", "cov | extend o = isinf(r)"),
    ("isfinite", "cov | extend o = isfinite(r)"),
    ("min_of", "cov | extend o = min_of(i, 2)"),
    ("max_of", "cov | extend o = max_of(i, 2)"),
    ("welch_test", "print o = welch_test(1.0, 1.0, 10, 2.0, 1.0, 10)"),
    ("beta_cdf", "cov | extend o = beta_cdf(0.5, 2.0, 2.0)"),
    ("beta_pdf", "cov | extend o = beta_pdf(0.5, 2.0, 2.0)"),
    ("beta_inv", "cov | extend o = beta_inv(0.5, 2.0, 2.0)"),
    ("erf", "cov | extend o = erf(r)"),
    ("erfc", "cov | extend o = erfc(r)"),
    # -- conditional
    ("iff", "cov | extend o = iff(b, 1, 2)"),
    ("iif", "cov | extend o = iif(b, 1, 2)"),
    ("case", "cov | extend o = case(b, 1, 2)"),
    # -- datetime / timespan
    ("now", "print o = now()"),
    ("ago", "print o = ago(1h)"),
    ("bin", "cov | extend o = bin(ts, 1h)"),
    ("bin_at", "cov | extend o = bin_at(ts, 1d, datetime(2024-01-01))"),
    ("floor_datetime", "cov | extend o = floor(ts, 1h)"),
    ("startofday", "cov | extend o = startofday(ts)"),
    ("endofday", "cov | extend o = endofday(ts)"),
    ("startofweek", "cov | extend o = startofweek(ts)"),
    ("endofweek", "cov | extend o = endofweek(ts)"),
    ("startofmonth", "cov | extend o = startofmonth(ts)"),
    ("endofmonth", "cov | extend o = endofmonth(ts)"),
    ("startofyear", "cov | extend o = startofyear(ts)"),
    ("endofyear", "cov | extend o = endofyear(ts)"),
    ("datetime_add", "cov | extend o = datetime_add('day', 1, ts)"),
    ("datetime_diff", "cov | extend o = datetime_diff('day', ts, ts)"),
    ("datetime_part", "cov | extend o = datetime_part('month', ts)"),
    ("dayofweek", "cov | extend o = dayofweek(ts)"),
    ("dayofmonth", "cov | extend o = dayofmonth(ts)"),
    ("dayofyear", "cov | extend o = dayofyear(ts)"),
    ("weekofyear", "cov | extend o = week_of_year(ts)"),
    ("monthofyear", "cov | extend o = monthofyear(ts)"),
    ("hourofday", "cov | extend o = hourofday(ts)"),
    ("getyear", "cov | extend o = getyear(ts)"),
    ("getmonth", "cov | extend o = getmonth(ts)"),
    ("make_datetime", "print o = make_datetime(2024, 1, 2)"),
    ("make_timespan", "print o = make_timespan(1, 2, 3)"),
    ("unixtime_seconds_todatetime",
     "cov | extend o = unixtime_seconds_todatetime(i)"),
    ("unixtime_milliseconds_todatetime",
     "cov | extend o = unixtime_milliseconds_todatetime(i)"),
    ("unixtime_microseconds_todatetime",
     "cov | extend o = unixtime_microseconds_todatetime(i)"),
    ("unixtime_nanoseconds_todatetime",
     "cov | extend o = unixtime_nanoseconds_todatetime(i)"),
    ("datetime_utc_to_local",
     "cov | extend o = datetime_utc_to_local(ts, 'US/Pacific')"),
    ("datetime_local_to_utc",
     "cov | extend o = datetime_local_to_utc(ts, 'US/Pacific')"),
    # -- dynamic / array / bag
    ("pack", "cov | extend o = pack('a', i)"),
    ("pack_dictionary", "cov | extend o = pack_dictionary('a', i)"),
    ("bag_pack", "cov | extend o = bag_pack('a', i)"),
    ("bag_pack_columns", "cov | extend o = bag_pack_columns(s, i)"),
    ("pack_all", "cov | extend o = pack_all()"),
    ("pack_array", "cov | extend o = pack_array(i, 2)"),
    ("array_length", "cov | extend o = array_length(arr)"),
    ("array_concat", "cov | extend o = array_concat(arr, arr)"),
    ("array_slice", "cov | extend o = array_slice(arr, 0, 1)"),
    ("array_split", "cov | extend o = array_split(arr, 1)"),
    ("array_index_of", "cov | extend o = array_index_of(arr, 1)"),
    ("array_reverse", "cov | extend o = array_reverse(arr)"),
    ("array_rotate_left", "cov | extend o = array_rotate_left(arr, 1)"),
    ("array_rotate_right", "cov | extend o = array_rotate_right(arr, 1)"),
    ("array_shift_left", "cov | extend o = array_shift_left(arr, 1)"),
    ("array_shift_right", "cov | extend o = array_shift_right(arr, 1)"),
    ("array_sort_asc", "cov | extend o = array_sort_asc(arr)"),
    ("array_sort_desc", "cov | extend o = array_sort_desc(arr)"),
    ("array_sum", "cov | extend o = array_sum(arr)"),
    ("array_iff", "cov | extend o = array_iff(pack_array(true, false), arr, arr)"),
    ("set_difference", "cov | extend o = set_difference(arr, arr)"),
    ("set_intersect", "cov | extend o = set_intersect(arr, arr)"),
    ("set_union", "cov | extend o = set_union(arr, arr)"),
    ("set_has_element", "cov | extend o = set_has_element(arr, 1)"),
    ("jaccard_index", "cov | extend o = jaccard_index(arr, arr)"),
    ("zip", "cov | extend o = zip(arr, arr)"),
    ("repeat", "cov | extend o = repeat(1, 3)"),
    ("bag_keys", "cov | extend o = bag_keys(parse_json(j))"),
    ("bag_merge", "cov | extend o = bag_merge(parse_json(j), parse_json(j))"),
    ("bag_remove_keys",
     "cov | extend o = bag_remove_keys(parse_json(j), pack_array('a'))"),
    ("bag_set_key", "cov | extend o = bag_set_key(parse_json(j), 'x', 1)"),
    ("bag_has_key", "cov | extend o = bag_has_key(parse_json(j), 'a')"),
    ("bag_zip", "cov | extend o = bag_zip(pack_array('a'), arr)"),
    ("dynamic_to_json", "cov | extend o = dynamic_to_json(parse_json(j))"),
    ("treepath", "cov | extend o = treepath(parse_json(j))"),
    ("column_ifexists", "cov | extend o = column_ifexists('s', 'zz')"),
    # -- ipv4/ipv6
    ("ipv4_compare", "cov | extend o = ipv4_compare(ip, '10.0.0.1')"),
    ("ipv4_is_match", "cov | extend o = ipv4_is_match(ip, '10.0.0.0/8')"),
    ("ipv4_is_in_range", "cov | extend o = ipv4_is_in_range(ip, '10.0.0.0/8')"),
    ("ipv4_is_in_any_range",
     "cov | extend o = ipv4_is_in_any_range(ip, '10.0.0.0/8')"),
    ("ipv4_is_private", "cov | extend o = ipv4_is_private(ip)"),
    ("ipv4_netmask_suffix", "cov | extend o = ipv4_netmask_suffix(ip)"),
    ("ipv4_range_to_cidr_list",
     "print o = ipv4_range_to_cidr_list('10.0.0.1', '10.0.0.9')"),
    ("ipv6_compare", "print o = ipv6_compare('::1', '::2')"),
    ("ipv6_is_match", "print o = ipv6_is_match('::1', '::1')"),
    ("ipv6_is_in_range", "print o = ipv6_is_in_range('::1', '::1/120')"),
    ("ipv6_is_in_any_range",
     "print o = ipv6_is_in_any_range('::1', '::1/120')"),
    ("has_ipv4", "cov | extend o = has_ipv4(s, ip)"),
    ("has_ipv4_prefix", "cov | extend o = has_ipv4_prefix(s, '10.')"),
    ("has_any_ipv4", "cov | extend o = has_any_ipv4(s, ip)"),
    ("has_any_ipv4_prefix", "cov | extend o = has_any_ipv4_prefix(s, '10.')"),
    ("geo_distance_2points",
     "print o = geo_distance_2points(-122.3, 47.6, -122.2, 47.7)"),
    ("geo_point_in_circle",
     "print o = geo_point_in_circle(-122.3, 47.6, -122.3, 47.6, 100)"),
    ("geo_point_to_geohash", "print o = geo_point_to_geohash(-122.3, 47.6)"),
    ("geo_geohash_to_central_point",
     "print o = geo_geohash_to_central_point('c23nb')"),
    ("geo_point_to_s2cell", "print o = geo_point_to_s2cell(-122.3, 47.6)"),
    ("geo_s2cell_to_central_point",
     "print o = geo_s2cell_to_central_point('54906ac')"),
    ("geo_point_to_h3cell", "print o = geo_point_to_h3cell(-122.3, 47.6)"),
    # -- series (over a made series)
    ("series_stats_dynamic",
     "cov | summarize y = make_list(r) | extend o = series_stats_dynamic(y)"),
    ("series_fir",
     "cov | summarize y = make_list(r) | extend o = series_fir(y, pack_array(0.5, 0.5))"),
    ("series_iir",
     "cov | summarize y = make_list(r) | extend o = series_iir(y, pack_array(1.0), pack_array(1.0))"),
    ("series_outliers", "cov | summarize y = make_list(r) | extend o = series_outliers(y)"),
    ("series_abs", "print o = series_abs(pack_array(-1.0, 2.0))"),
    ("series_add", "print o = series_add(pack_array(1.0), pack_array(2.0))"),
    ("series_subtract",
     "print o = series_subtract(pack_array(1.0), pack_array(2.0))"),
    ("series_multiply",
     "print o = series_multiply(pack_array(2.0), pack_array(2.0))"),
    ("series_divide", "print o = series_divide(pack_array(2.0), pack_array(2.0))"),
    ("series_greater", "print o = series_greater(pack_array(2.0), pack_array(1.0))"),
    ("series_less", "print o = series_less(pack_array(2.0), pack_array(1.0))"),
    ("series_equals", "print o = series_equals(pack_array(2.0), pack_array(2.0))"),
    ("series_not_equals",
     "print o = series_not_equals(pack_array(2.0), pack_array(1.0))"),
    ("series_sum", "print o = series_sum(pack_array(1.0, 2.0))"),
    ("series_pow", "print o = series_pow(pack_array(2.0), pack_array(2.0))"),
    ("series_exp", "print o = series_exp(pack_array(1.0))"),
    ("series_log", "print o = series_log(pack_array(1.0))"),
    ("series_sign", "print o = series_sign(pack_array(-2.0))"),
    ("series_floor", "print o = series_floor(pack_array(1.5))"),
    ("series_ceiling", "print o = series_ceiling(pack_array(1.5))"),
    ("series_pearson_correlation",
     "print o = series_pearson_correlation(pack_array(1.0, 2.0), pack_array(1.0, 2.0))"),
    ("series_dot_product",
     "print o = series_dot_product(pack_array(1.0, 2.0), pack_array(1.0, 2.0))"),
    ("series_cosine_similarity",
     "print o = series_cosine_similarity(pack_array(1.0, 2.0), pack_array(1.0, 2.0))"),
    ("series_magnitude", "print o = series_magnitude(pack_array(3.0, 4.0))"),
    ("series_fit_line", "cov | summarize y = make_list(r) | extend (rs, sl, vr, rv, ic, lf) = series_fit_line(y)"),
    ("series_fit_poly",
     "cov | summarize y = make_list(r) | extend (p1, p2, p3, p4, p5) = series_fit_poly(y)"),
    ("series_fit_2lines", "cov | summarize y = make_list(r) | extend (c1, c2, c3, c4, c5) = series_fit_2lines(y)"),
    ("series_decompose_anomalies",
     "cov | summarize y = make_list(r) | extend (an, sc, ba) = series_decompose_anomalies(y)"),
    ("series_fill_const",
     "print o = series_fill_const(pack_array(1.0, real(null)), 0.0)"),
    ("series_fill_forward",
     "print o = series_fill_forward(pack_array(1.0, real(null)))"),
    ("series_fill_backward",
     "print o = series_fill_backward(pack_array(real(null), 2.0))"),
    ("series_fill_linear",
     "print o = series_fill_linear(pack_array(1.0, real(null), 3.0))"),
    ("series_moving_avg",
     "cov | summarize y = make_list(r) | extend o = series_moving_avg(y, 2)"),
    ("series_seasonal", "cov | summarize y = make_list(r) | extend o = series_seasonal(y, 2)"),
    ("series_periods_detect",
     "cov | summarize y = make_list(r) | extend (pd, ps) = series_periods_detect(y, 2, 4, 1)"),
    # -- misc scalars
    ("new_guid", "print o = new_guid()"),
    ("current_cluster_endpoint", "print o = current_cluster_endpoint()"),
    ("current_database", "print o = current_database()"),
    ("current_principal", "print o = current_principal()"),
    ("cursor_current", "print o = cursor_current()"),
    ("estimate_data_size", "cov | extend o = estimate_data_size(s, i)"),
    ("binary_and", "cov | extend o = binary_and(i, 3)"),
    ("binary_or", "cov | extend o = binary_or(i, 3)"),
    ("binary_xor", "cov | extend o = binary_xor(i, 3)"),
    ("binary_not", "cov | extend o = binary_not(i)"),
    ("binary_shift_left", "cov | extend o = binary_shift_left(i, 1)"),
    ("binary_shift_right", "cov | extend o = binary_shift_right(i, 1)"),
    ("bitset_count_ones", "cov | extend o = bitset_count_ones(i)"),
    ("bin_auto",
     "set query_bin_auto_size=1h; cov | extend o = bin_auto(ts)"),
    ("toscalar", "print o = toscalar(cov | count)"),
    ("next", "cov | sort by i asc | extend o = next(i)"),
    ("prev", "cov | sort by i asc | extend o = prev(i)"),
    ("row_number", "cov | sort by i asc | extend o = row_number()"),
    ("row_cumsum", "cov | sort by i asc | extend o = row_cumsum(i)"),
    ("row_rank_dense", "cov | sort by i asc | extend o = row_rank_dense(i)"),
    ("row_rank_min", "cov | sort by i asc | extend o = row_rank_min(i)"),
    ("row_window_session",
     "cov | sort by ts asc | extend o = row_window_session(ts, 1h, 5m)"),
]

AGGREGATES: list[tuple[str, str]] = [
    ("count", "cov | summarize o = count()"),
    ("countif", "cov | summarize o = countif(b)"),
    ("count_distinct", "cov | summarize o = count_distinct(s)"),
    ("count_distinctif", "cov | summarize o = count_distinctif(s, b)"),
    ("dcount", "cov | summarize o = dcount(s)"),
    ("dcountif", "cov | summarize o = dcountif(s, b)"),
    ("sum", "cov | summarize o = sum(i)"),
    ("sumif", "cov | summarize o = sumif(i, b)"),
    ("avg", "cov | summarize o = avg(i)"),
    ("avgif", "cov | summarize o = avgif(i, b)"),
    ("min", "cov | summarize o = min(i)"),
    ("minif", "cov | summarize o = minif(i, b)"),
    ("max", "cov | summarize o = max(i)"),
    ("maxif", "cov | summarize o = maxif(i, b)"),
    ("take_any", "cov | summarize o = take_any(s)"),
    ("take_anyif", "cov | summarize o = take_anyif(s, b)"),
    ("arg_max", "cov | summarize arg_max(i, s)"),
    ("arg_min", "cov | summarize arg_min(i, s)"),
    ("make_list", "cov | summarize o = make_list(i)"),
    ("make_list_if", "cov | summarize o = make_list_if(i, b)"),
    ("make_set", "cov | summarize o = make_set(i)"),
    ("make_set_if", "cov | summarize o = make_set_if(i, b)"),
    ("make_bag", "cov | summarize o = make_bag(pack('a', i))"),
    ("make_bag_if", "cov | summarize o = make_bag_if(pack('a', i), b)"),
    ("make_list_with_nulls", "cov | summarize o = make_list_with_nulls(i)"),
    ("percentile", "cov | summarize o = percentile(i, 50)"),
    ("percentiles", "cov | summarize percentiles(i, 25, 75)"),
    ("percentilew", "cov | summarize o = percentilew(i, i, 50)"),
    ("percentiles_array", "cov | summarize o = percentiles_array(i, 25, 75)"),
    ("stdev", "cov | summarize o = stdev(i)"),
    ("stdevif", "cov | summarize o = stdevif(i, b)"),
    ("stdevp", "cov | summarize o = stdevp(i)"),
    ("variance", "cov | summarize o = variance(i)"),
    ("varianceif", "cov | summarize o = varianceif(i, b)"),
    ("variancep", "cov | summarize o = variancep(i)"),
    ("binary_all_and", "cov | summarize o = binary_all_and(i)"),
    ("binary_all_or", "cov | summarize o = binary_all_or(i)"),
    ("binary_all_xor", "cov | summarize o = binary_all_xor(i)"),
    ("hll", "cov | summarize o = hll(s)"),
    ("hll_if", "cov | summarize o = hll_if(s, b)"),
    ("hll_merge", "cov | summarize h = hll(s) | summarize o = hll_merge(h)"),
    ("dcount_hll", "cov | summarize h = hll(s) | project o = dcount_hll(h)"),
    ("tdigest", "cov | summarize o = tdigest(i)"),
    ("tdigest_merge",
     "cov | summarize t = tdigest(i) | summarize o = tdigest_merge(t)"),
    ("percentile_tdigest",
     "cov | summarize t = tdigest(i) | project o = percentile_tdigest(t, 50)"),
    ("max_of_agg_arg", "cov | summarize o = max(strcat(s, tostring(i)))"),
]


# The public ADX TABULAR-OPERATOR index, one representative pipe each
# (same census semantics: ok / loud / unresolved / error). `render` is
# a no-op passthrough in ADX's own REST surface; `consume`/`egest` are
# documented-loud here.
OPERATORS: list[tuple[str, str]] = [
    ("as", "cov | as c2 | count"),
    ("consume", "cov | consume"),
    ("count-op", "cov | count"),
    ("datatable", "datatable(x: long) [1, 2] | count"),
    ("distinct", "cov | distinct s"),
    ("evaluate", "cov | project s, i | sort by i asc | evaluate narrow()"),
    ("extend", "cov | extend o = i + 1"),
    ("externaldata",
     "externaldata (x: string, y: long) ['/tmp/adx_cov_ext.csv']"
     " | count"),
    ("facet", "cov | facet by s"),
    ("find", "find in (cov) where i > 0 | count"),
    ("fork", "cov | fork a = (count) b = (summarize m = max(i))"),
    ("getschema", "cov | getschema"),
    ("invoke",
     "let f = (T: (i: long)) { T | count }; cov | project i | invoke f()"),
    ("join", "cov | join kind=inner (cov | project s) on s | count"),
    ("lookup", "cov | lookup (cov | summarize m = max(i) by s) on s"),
    ("make-series",
     "cov | make-series n = count() on ts from datetime(2024-01-01)"
     " to datetime(2024-03-01) step 30d"),
    ("mv-apply",
     "cov | mv-apply a = arr to typeof(long) on (summarize mx = max(a))"),
    ("mv-expand", "cov | mv-expand arr"),
    ("parse", "cov | extend t = strcat('v=', tostring(i))"
     " | parse t with 'v=' v: long"),
    ("parse-where", "cov | extend t = strcat('v=', tostring(i))"
     " | parse-where t with 'v=' v: long"),
    ("parse-kv",
     "cov | extend t = strcat('k=', tostring(i), ';x=1')"
     " | parse-kv t as (k: long) with (pair_delimiter=';',"
     " kv_delimiter='=')"),
    ("partition", "cov | partition by s (top 1 by i)"),
    ("print", "print x = 1"),
    ("project", "cov | project s, i"),
    ("project-away", "cov | project-away j"),
    ("project-keep", "cov | project-keep s, i"),
    ("project-rename", "cov | project-rename s2 = s"),
    ("project-reorder", "cov | project-reorder i, s"),
    ("range-op", "range x from 1 to 5 step 1"),
    ("reduce", "cov | reduce by s"),
    ("render", "cov | summarize c = count() by s | render barchart"),
    ("sample", "cov | sample 1"),
    ("sample-distinct", "cov | sample-distinct 1 of s"),
    ("scan",
     "cov | sort by i asc | scan with (step s1: i >= 0)"),
    ("search", 'cov | search "abc"'),
    ("serialize", "cov | sort by i asc | serialize | extend rn = row_number()"),
    ("sort", "cov | sort by i desc"),
    ("summarize", "cov | summarize c = count() by s"),
    ("take", "cov | take 1"),
    ("top", "cov | top 1 by i"),
    ("top-nested", "cov | top-nested 1 of s by count()"),
    ("top-hitters", "cov | top-hitters 1 of s"),
    ("union", "cov | union cov | count"),
    ("where", "cov | where i > 0"),
]

# The public `evaluate` PLUGIN index (query-relevant plugins; the
# management/ML-sandbox ones that cannot exist outside ADX's service —
# e.g. cosmosdb_sql_request, ai_embeddings — are not query operators
# and are out of census scope).
PLUGINS: list[tuple[str, str]] = [
    ("autocluster", "cov | evaluate autocluster()"),
    ("bag_unpack", "cov | project j | evaluate bag_unpack(j)"),
    ("basket", "cov | evaluate basket()"),
    ("diffpatterns",
     "cov | extend cls = iff(b, 'y', 'n')"
     " | evaluate diffpatterns(cls, 'y', 'n')"),
    ("diffpatterns_text",
     "cov | extend cls = iff(b, 'y', 'n')"
     " | evaluate diffpatterns_text(s, cls, 'y', 'n')"),
    ("dcount_intersect",
     "cov | summarize h1 = hll(s), h2 = hll(i)"
     " | evaluate dcount_intersect(h1, h2)"),
    ("funnel_sequence",
     "cov | evaluate funnel_sequence(i, ts, datetime(2024-01-01),"
     " datetime(2024-03-01), 30d, 60d, s, dynamic(['abc', 'xya']))"),
    ("funnel_sequence_completion",
     "cov | evaluate funnel_sequence_completion(i, ts,"
     " datetime(2024-01-01), datetime(2024-03-01), 30d, s,"
     " dynamic(['abc', 'xya']))"),
    ("ipv4_lookup",
     "let lut = datatable(net: string, lbl: string)"
     " ['10.0.0.0/8', 'priv'];"
     " cov | evaluate ipv4_lookup(lut, ip, net)"),
    ("narrow", "cov | project s, i | sort by i asc | evaluate narrow()"),
    ("pivot", "cov | evaluate pivot(s, count())"),
    ("rolling_percentile",
     "cov | evaluate rolling_percentile(r, 50, ts, 30d, 2)"),
    ("rows_near",
     "cov | sort by i asc | evaluate rows_near(b, 1)"),
    ("schema_merge",
     "cov | getschema | evaluate schema_merge()"),
    ("sequence_detect",
     "cov | extend e1 = s == 'abc', e2 = s == 'xya'"
     " | evaluate sequence_detect(ts, 30d, 60d, e1, e2, i)"),
    ("session_count",
     "cov | evaluate session_count(i, ts, datetime(2024-01-01),"
     " datetime(2024-03-01), 1d, 7d)"),
    ("sliding_window_counts",
     "cov | evaluate sliding_window_counts(i, ts, datetime(2024-01-01),"
     " datetime(2024-03-01), 7d, 1d)"),
    ("activity_counts_metrics",
     "cov | evaluate activity_counts_metrics(i, ts,"
     " datetime(2024-01-01), datetime(2024-03-01), 30d)"),
    ("activity_engagement",
     "cov | evaluate activity_engagement(i, ts, datetime(2024-01-01),"
     " datetime(2024-03-01), 1d, 7d)"),
    ("activity_metrics",
     "cov | evaluate activity_metrics(i, ts, datetime(2024-01-01),"
     " datetime(2024-03-01), 30d)"),
    ("new_activity_metrics",
     "cov | evaluate new_activity_metrics(i, ts, datetime(2024-01-01),"
     " datetime(2024-03-01), 30d)"),
    ("active_users_count",
     "cov | evaluate active_users_count(i, ts, datetime(2024-01-01),"
     " datetime(2024-03-01), 30d, 30d, 1)"),
    # `evaluate python` is LOUD BY DESIGN here: exec of query-supplied
    # code is opt-in via kql(..., enable_python=True) only (the
    # reference's ADX sandbox is likewise disabled by default), so the
    # census expects the refusal.
    ("python",
     "cov | evaluate python(typeof(i: long), 'result = df[[\'i\']]')"),
]


def make_cov_view(spark) -> None:
    """Register the typed two-row probe table `cov`, and write the CSV
    the `externaldata` OPERATORS probe reads (a fresh checkout would
    otherwise classify externaldata as 'error')."""
    with open("/tmp/adx_cov_ext.csv", "w", encoding="utf-8") as fh:
        fh.write("a,1\nb,2\n")
    spark.sql(
        "SELECT 'abc' AS s, CAST(7 AS BIGINT) AS i,"
        " CAST(2.5 AS DOUBLE) AS r,"
        " TIMESTAMP '2024-01-02 03:04:05' AS ts, true AS b,"
        " '{\"a\": 1}' AS j, array(1L, 2L, 3L) AS arr,"
        " '10.1.2.3/24' AS ip"
        " UNION ALL SELECT 'xya', 3, -1.5,"
        " TIMESTAMP '2024-02-03 04:05:06', false,"
        " '{\"a\": 2}', array(2L, 3L, 4L), '192.168.0.9'"
    ).createOrReplaceTempView("cov")


FAMILIES = (("scalar", SCALARS), ("agg", AGGREGATES),
            ("op", OPERATORS), ("plugin", PLUGINS))


def main() -> int:
    as_json = "--json" in sys.argv[1:]
    from api_to_parquet_spark.queries.kql import kql
    from api_to_parquet_spark.session import get_spark

    spark = get_spark()
    make_cov_view(spark)

    results: dict[str, dict[str, str]] = {}
    for family, entries in FAMILIES:
        for name, probe in entries:
            try:
                kql(spark, probe).collect()
                status, note = "ok", ""
            except ValueError as ex:
                status, note = "loud", str(ex)[:100]
            except Exception as ex:  # noqa: BLE001 — census, not control flow
                msg = str(ex)
                if (
                    "UNRESOLVED_ROUTINE" in msg
                    or "UNRESOLVED_COLUMN" in msg
                ):
                    status, note = "unresolved", msg[:100]
                else:
                    status, note = "error", msg.splitlines()[0][:160]
            results[name] = {
                "family": family,
                "status": status,
                "note": note,
            }

    counts: dict[str, int] = {}
    for v in results.values():
        counts[v["status"]] = counts.get(v["status"], 0) + 1
    total = len(results)
    if as_json:
        print(json.dumps({"counts": counts, "total": total,
                          "results": results}, indent=1))
    else:
        for st in ("error", "unresolved", "loud"):
            for name, v in sorted(results.items()):
                if v["status"] == st:
                    print(f"{st:10s} {v['family']:6s} {name}: {v['note']}")
        pct = 100.0 * counts.get("ok", 0) / total
        print(
            f"\n{total} functions probed: "
            + ", ".join(f"{k}={v}" for k, v in sorted(counts.items()))
            + f"  ({pct:.1f}% ok)"
        )
    return 1 if counts.get("error") else 0


if __name__ == "__main__":
    raise SystemExit(main())

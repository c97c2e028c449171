package mongo_cdc_spark.jvm;

import com.fasterxml.jackson.core.JsonFactory;
import com.fasterxml.jackson.core.JsonParser;
import com.fasterxml.jackson.core.JsonToken;
import com.fasterxml.jackson.core.io.NumberOutput;
import com.fasterxml.jackson.core.json.JsonReadFeature;
import java.io.IOException;
import java.math.BigDecimal;
import java.math.MathContext;
import java.math.RoundingMode;
import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;

/**
 * The `to_json` text of a change event -> struct(payload, value): the
 * canonical Extended JSON v2 of its documentKey and of the whole event
 * with a JSON-text fullDocument inlined as a subdocument (the reference's
 * bson.MarshalExtJSON, main.go:117,138).
 *
 * Byte-identical to mongo_cdc_spark.cdc.extjson.event_key_value, which is
 * the reference implementation in the tests: int32 literals become
 * $numberInt, larger ones $numberLong; a double is $numberDouble, written
 * "%.1f" when integral below 2^53 and as Python's shortest repr otherwise;
 * NaN/Infinity/-Infinity are accepted; a duplicate key keeps the last
 * value at the first key's position; output is Python's ensure_ascii
 * escaping with Go json.Marshal separators. A fullDocument string that is
 * not JSON stays a string.
 */
public final class ExtJsonKeyValue implements UDF1<String, Row> {
    private static final long serialVersionUID = 1L;

    private static final JsonFactory JSON = JsonFactory.builder()
        .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build();
    private static final double TWO_53 = 9007199254740992.0;
    private static final char[] HEX = "0123456789abcdef".toCharArray();

    /** A number as its canonical wrapper: {"<type>":"<text>"}. */
    private static final class Num {
        final String type;
        final String text;

        Num(String type, String text) {
            this.type = type;
            this.text = text;
        }
    }

    @Override
    public Row call(String event) throws IOException {
        if (event == null) {
            return RowFactory.create(null, null);
        }
        Object ev = parse(event);
        if (!(ev instanceof Map)) {
            throw new IOException("change event is not a JSON object");
        }
        @SuppressWarnings("unchecked")
        Map<String, Object> doc = (Map<String, Object>) ev;
        Object full = doc.get("fullDocument");
        if (full instanceof String) {
            try {
                doc.put("fullDocument", parse((String) full));
            } catch (IOException notJson) {
                // not JSON text: it stays a string
            }
        }
        Object key = doc.get("documentKey");
        String payload = key == null ? null : encode(key, new StringBuilder()).toString();
        StringBuilder value = new StringBuilder(event.length() + event.length() / 2);
        return RowFactory.create(payload, encode(doc, value).toString());
    }

    /** One JSON text, and nothing after it, as a tree of canonical values. */
    static Object parse(String text) throws IOException {
        try (JsonParser p = JSON.createParser(text)) {
            if (p.nextToken() == null) {
                throw new IOException("empty JSON text");
            }
            Object v = read(p);
            if (p.nextToken() != null) {
                throw new IOException("extra data after JSON value");
            }
            return v;
        }
    }

    private static Object read(JsonParser p) throws IOException {
        switch (p.currentToken()) {
            case START_OBJECT: {
                Map<String, Object> m = new LinkedHashMap<>();
                while (p.nextToken() == JsonToken.FIELD_NAME) {
                    String k = p.currentName();
                    p.nextToken();
                    m.put(k, read(p));
                }
                return m;
            }
            case START_ARRAY: {
                List<Object> a = new ArrayList<>();
                while (p.nextToken() != JsonToken.END_ARRAY) {
                    a.add(read(p));
                }
                return a;
            }
            case VALUE_STRING:
                return p.getText();
            case VALUE_NUMBER_INT:
                return integer(p);
            case VALUE_NUMBER_FLOAT:
                return new Num("$numberDouble", doubleText(p));
            case VALUE_TRUE:
                return Boolean.TRUE;
            case VALUE_FALSE:
                return Boolean.FALSE;
            case VALUE_NULL:
                return null;
            default:
                throw new IOException("unexpected token " + p.currentToken());
        }
    }

    private static Num integer(JsonParser p) throws IOException {
        switch (p.getNumberType()) {
            case INT:
                return new Num("$numberInt", Integer.toString(p.getIntValue()));
            case LONG:
                return new Num("$numberLong", Long.toString(p.getLongValue()));
            default:
                return new Num("$numberLong", p.getBigIntegerValue().toString());
        }
    }

    private static String doubleText(JsonParser p) throws IOException {
        // a number literal ends in a digit; of the constants Jackson reads,
        // Python's json reads only these three (not +Infinity, INF, -INF)
        String lit = p.getText();
        if (!Character.isDigit(lit.charAt(lit.length() - 1))
                && !lit.equals("NaN") && !lit.equals("Infinity") && !lit.equals("-Infinity")) {
            throw new IOException("not a JSON constant: " + lit);
        }
        return doubleText(p.getDoubleValue());
    }

    static String doubleText(double d) {
        if (Double.isNaN(d)) {
            return "NaN";
        }
        if (Double.isInfinite(d)) {
            return d > 0 ? "Infinity" : "-Infinity";
        }
        String sign = (Double.doubleToRawLongBits(d) < 0) ? "-" : "";
        double a = Math.abs(d);
        if (a < TWO_53 && a == Math.rint(a)) {
            return sign + (long) a + ".0";
        }
        return sign + repr(a);
    }

    /**
     * Python's repr of a positive finite double: the fewest significant
     * digits that read back as `a`, the nearest such decimal when several
     * qualify, in fixed notation for decimal exponents -4..15 and
     * d.ddde+XX / d.ddde-XX otherwise. JDK 17's Double.toString is not
     * always shortest; Jackson's Schubfach writer is shortest-nearest for
     * normal doubles. Below them it may keep a second digit where one
     * digit reads back (4.9e-324 for Python's 5e-324), so subnormals take
     * the nearest p-digit rounding of the exact value that reads back.
     */
    static String repr(double a) {
        String digits;
        int decpt;                                  // a = 0.digits * 10^decpt
        if (a >= Double.MIN_NORMAL) {
            String s = NumberOutput.toString(a, true);   // ddd.ddd or d.dddE-n
            int e = s.indexOf('E');
            int end = e < 0 ? s.length() : e;
            int dot = s.indexOf('.');
            String all = s.substring(0, dot) + s.substring(dot + 1, end);
            int lo = 0;
            while (all.charAt(lo) == '0') {
                lo++;
            }
            int hi = all.length();
            while (all.charAt(hi - 1) == '0') {
                hi--;
            }
            digits = all.substring(lo, hi);
            decpt = dot - lo + (e < 0 ? 0 : Integer.parseInt(s, e + 1, s.length(), 10));
        } else {
            BigDecimal exact = new BigDecimal(a);
            BigDecimal r;
            int p = 1;
            do {
                r = exact.round(new MathContext(p++, RoundingMode.HALF_EVEN));
            } while (Double.parseDouble(r.toString()) != a);
            r = r.stripTrailingZeros();
            digits = r.unscaledValue().toString();
            decpt = digits.length() - r.scale();
        }
        StringBuilder sb = new StringBuilder(24);
        if (decpt <= -4 || decpt > 16) {
            sb.append(digits.charAt(0));
            if (digits.length() > 1) {
                sb.append('.').append(digits, 1, digits.length());
            }
            int exp = decpt - 1;
            sb.append(exp < 0 ? "e-" : "e+");
            if (Math.abs(exp) < 10) {
                sb.append('0');
            }
            sb.append(Math.abs(exp));
        } else if (decpt <= 0) {
            sb.append("0.");
            for (int i = decpt; i < 0; i++) {
                sb.append('0');
            }
            sb.append(digits);
        } else if (decpt >= digits.length()) {
            sb.append(digits);
            for (int i = digits.length(); i < decpt; i++) {
                sb.append('0');
            }
            sb.append(".0");
        } else {
            sb.append(digits, 0, decpt).append('.').append(digits, decpt, digits.length());
        }
        return sb.toString();
    }

    @SuppressWarnings("unchecked")
    private static StringBuilder encode(Object v, StringBuilder sb) {
        if (v == null) {
            sb.append("null");
        } else if (v instanceof String) {
            quote((String) v, sb);
        } else if (v instanceof Num) {
            Num n = (Num) v;
            sb.append("{\"").append(n.type).append("\":\"").append(n.text).append("\"}");
        } else if (v instanceof Boolean) {
            sb.append(((Boolean) v) ? "true" : "false");
        } else if (v instanceof Map) {
            sb.append('{');
            boolean first = true;
            for (Map.Entry<String, Object> e : ((Map<String, Object>) v).entrySet()) {
                if (!first) {
                    sb.append(',');
                }
                first = false;
                quote(e.getKey(), sb);
                sb.append(':');
                encode(e.getValue(), sb);
            }
            sb.append('}');
        } else {
            sb.append('[');
            boolean first = true;
            for (Object x : (List<Object>) v) {
                if (!first) {
                    sb.append(',');
                }
                first = false;
                encode(x, sb);
            }
            sb.append(']');
        }
        return sb;
    }

    /** Python json's ensure_ascii string escaping. */
    private static void quote(String s, StringBuilder sb) {
        sb.append('"');
        int run = 0;                                // start of the unescaped run
        for (int i = 0; i < s.length(); i++) {
            char c = s.charAt(i);
            if (c >= 0x20 && c <= 0x7e && c != '"' && c != '\\') {
                continue;
            }
            sb.append(s, run, i);
            run = i + 1;
            switch (c) {
                case '"': sb.append("\\\""); break;
                case '\\': sb.append("\\\\"); break;
                case '\n': sb.append("\\n"); break;
                case '\r': sb.append("\\r"); break;
                case '\t': sb.append("\\t"); break;
                case '\b': sb.append("\\b"); break;
                case '\f': sb.append("\\f"); break;
                default:
                    sb.append("\\u").append(HEX[c >> 12]).append(HEX[(c >> 8) & 15])
                      .append(HEX[(c >> 4) & 15]).append(HEX[c & 15]);
            }
        }
        sb.append(s, run, s.length()).append('"');
    }
}

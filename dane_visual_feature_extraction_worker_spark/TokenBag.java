package pitfeatures;

import java.nio.charset.StandardCharsets;
import java.util.zip.CRC32;

import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataTypes;

/**
 * The kernel's token bag of one turn's text, in one pass over its chars.
 *
 * <p>Tokens are the maximal runs of non-White_Space chars (the set Java's
 * {@code (?U)\s} matches); a token's bucket is the CRC-32 of its UTF-8
 * bytes mod 16. Returns {@code [words, bag0 .. bag15]}: the token count,
 * then each bucket's count divided by the l2 norm of the 16 counts (0 for
 * a text without tokens). A null text has no tokens.
 *
 * <p>Compiled at run time by the Janino compiler bundled with Spark
 * (kernel.py, {@code _token_bag}): it may use no lambdas, and it
 * implements the raw {@code UDF1}.
 */
public class TokenBag implements UDF1 {
    private static final int BUCKETS = 16;

    /** Unicode White_Space, as {@code java.util.regex}'s {@code (?U)\s}. */
    private static boolean isSpace(char c) {
        if (c < 128) {
            return c == ' ' || (c >= '\t' && c <= '\r');
        }
        int type = Character.getType(c);
        return type == Character.SPACE_SEPARATOR
            || type == Character.LINE_SEPARATOR
            || type == Character.PARAGRAPH_SEPARATOR
            || c == 0x85;
    }

    /** The UDF {@code token_bag(text)}, returning {@code array<double>}. */
    public static UserDefinedFunction udf() {
        return functions.udf(new TokenBag(), DataTypes.createArrayType(DataTypes.DoubleType))
            .withName("token_bag");
    }

    public Object call(Object value) {
        double[] out = new double[1 + BUCKETS];
        if (value == null) {
            return out;
        }
        String text = (String) value;
        int n = text.length();
        CRC32 crc = new CRC32();
        int i = 0;
        while (i < n) {
            while (i < n && isSpace(text.charAt(i))) {
                i++;
            }
            int start = i;
            while (i < n && !isSpace(text.charAt(i))) {
                i++;
            }
            if (i > start) {
                crc.reset();
                crc.update(text.substring(start, i).getBytes(StandardCharsets.UTF_8));
                out[1 + (int) (crc.getValue() % BUCKETS)] += 1.0;
                out[0] += 1.0;
            }
        }
        // whole counts: the sum of squares is exact in double, so it
        // equals the oracles' in any order
        double sq = 0.0;
        for (int b = 1; b <= BUCKETS; b++) {
            sq += out[b] * out[b];
        }
        double norm = Math.sqrt(sq);
        for (int b = 1; b <= BUCKETS; b++) {
            out[b] = norm > 0 ? out[b] / norm : 0.0;
        }
        return out;
    }
}

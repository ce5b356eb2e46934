package rtdw;

import java.util.ArrayList;
import java.util.Collections;
import java.util.Comparator;
import java.util.Iterator;
import java.util.List;

import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.api.java.function.MapFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.sql.streaming.GroupStateTimeout;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

/**
 * T1 new/old-visitor repair (BaseLogApp.java:76-106) as a keyed-state
 * processor. Input and output rows are (key, dt, is_new, payload), all
 * strings; the state is the key's first visit date, which never changes
 * once set.
 *
 * <p>On a key's first batch, the first row of a stable, nulls-last sort by
 * dt decides: its own dt when it claims is_new "1", else the epoch day (the
 * visitor predates the job). Every "1" row whose dt is not that date is
 * rewritten to "0"; a null dt never equals it.
 */
public final class VisitorRepair
        implements FlatMapGroupsWithStateFunction<String, Row, String, Row> {

    static final String EPOCH_DAY = "1970-01-01";
    private static final int KEY = 0, DT = 1, IS_NEW = 2, PAYLOAD = 3;
    // Collections.min keeps the first of equal rows: the row a stable
    // nulls-last sort by dt puts first.
    private static final Comparator<Row> BY_DT = Comparator.comparing(
            (Row r) -> r.getString(DT),
            Comparator.nullsLast(Comparator.<String>naturalOrder()));

    /** Repairs ``events`` (columns key, dt, is_new, payload, in that order),
     *  grouped by its first column; append output mode, no timeout. */
    public static Dataset<Row> apply(Dataset<Row> events) {
        StructType schema = new StructType();
        for (String c : events.columns()) {
            schema = schema.add(c, DataTypes.StringType);
        }
        return events.groupByKey(new KeyOf(), Encoders.STRING())
                .flatMapGroupsWithState(new VisitorRepair(), OutputMode.Append(),
                        Encoders.STRING(), Encoders.row(schema),
                        GroupStateTimeout.NoTimeout());
    }

    @Override
    public Iterator<Row> call(String key, Iterator<Row> rows, GroupState<String> state) {
        List<Row> batch = new ArrayList<>();
        rows.forEachRemaining(batch::add);
        String firstDt = state.exists() ? state.get() : null;
        if (firstDt == null) {
            Row first = Collections.min(batch, BY_DT);
            firstDt = "1".equals(first.getString(IS_NEW)) ? first.getString(DT) : EPOCH_DAY;
            // null only when every dt is null: the next batch decides again
            if (firstDt != null) {
                state.update(firstDt);
            }
        }
        List<Row> out = new ArrayList<>(batch.size());
        for (Row r : batch) {
            String dt = r.getString(DT);
            boolean demote = "1".equals(r.getString(IS_NEW))
                    && (dt == null || !dt.equals(firstDt));
            out.add(demote ? RowFactory.create(r.get(KEY), dt, "0", r.get(PAYLOAD)) : r);
        }
        return out.iterator();
    }

    static final class KeyOf implements MapFunction<Row, String> {
        @Override
        public String call(Row r) {
            return r.getString(KEY);
        }
    }
}
